package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-text spellings for the UNBOUNDED exact-substring dedup family
  * (Lee et al.) — the eighth, ninth and eleventh table-valued
  * functions on the [[AsOfSql]] / [[RangeSql]] / [[KnnSql]] /
  * [[NearDupSql]] / [[DsirSql]] / [[SemDedupSql]] /
  * [[IndexSearchSql]] pattern, closing the r17 gap where
  * [[graft.ext.TextOps.maximalDupSpans]],
  * [[graft.ext.TextOps.maximalDupIslands]] and
  * [[graft.ext.TextOps.dedupExcise]] were engine-only:
  *
  * {{{
  *   SELECT * FROM dup_spans('documents', 'doc_id', 'text', 8, 64)
  *   -- maximal duplicated substrings of ANY length >= w per doc pair:
  *   -- (doc_a, doc_b, start_a, end_a, start_b, end_b, span_tokens,
  *   --  n_windows)
  *   SELECT * FROM dedup_excise(TABLE(SELECT * FROM documents
  *                                    WHERE lang = 'en'),
  *                              'doc_id', 'text', 8, 64)
  *   -- first occurrence keeps, every later copy excised:
  *   -- (doc_id, n_tokens, n_removed, clean_text, clean_md5)
  * }}}
  *
  * Each TVF is a MACRO over its engine operator: table lookup
  * (string-literal name or TABLE(subquery) — [[TvfArgs]]),
  * resolver-aware column validation, Long-space-range-checked integer
  * literals (the DsirSql rule: a BIGINT literal is rejected on its
  * real value, never wrapped by toInt into an in-range one) — all
  * resolution-time loud — analyzed plan out, identical plan and scale
  * posture to the engine call (the only self-join is equi on the
  * 16-byte window hash with per-key fan-out ≤ occCap²; island/interval
  * windows over pair-/doc-bounded partitions).
  *
  * `occCap` is a RECALL bound, not a correctness bound: hashes with
  * more occurrences — corpus-pervasive boilerplate — are excluded
  * from pairing (their pair set is quadratic by nature); gate on
  * [[graft.ext.TextOps.dupSpanAudit]] before trusting a report. The
  * reference has no SQL surface; the kin are the `text_dup_*` /
  * `text_dedup_excise` DataFrame entries (SURVEY §2 extensions),
  * relationalized. */
object DupSpansSql {

  /** Shared argument decode for the two spellings: (docs, id_col,
    * text_col, w, occCap) → the shaped (doc_id, text) frame + bounds-
    * checked (w, occCap). */
  private def decode(name: String, args: Seq[Expression])
      : (org.apache.spark.sql.DataFrame, Int, Int) = {
    require(args.lengthCompare(5) == 0,
      s"$name takes exactly 5 arguments " +
        s"(docs, id_col, text_col, w, occ_cap), got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v: UTF8String, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$name: $what (argument ${i + 1}) must be a string literal, " +
          s"got $other")
    }
    // range-check in Long space BEFORE narrowing (the DsirSql rule)
    def intArg(i: Int, what: String, lo: Long, hi: Long): Int = {
      val v = args(i) match {
        case Literal(v: Int, IntegerType) => v.toLong
        case Literal(v: Long, LongType) => v
        case other => throw new IllegalArgumentException(
          s"$name: $what (argument ${i + 1}) must be an integer " +
            s"literal, got $other")
      }
      require(v >= lo && v <= hi,
        s"$name: $what must be in [$lo, $hi] (got $v)")
      v.toInt
    }
    val w = intArg(3, "window width w", 2L, 4096L)
    val occCap = intArg(4, "occ_cap", 2L, 1L << 20)
    val spark = SparkSession.active
    val docs = TvfArgs.spreadTable(spark, name, args, 0, "docs table")
    val idCol = TvfArgs.resolveColumn(spark, name, docs,
      str(1, "id column"), "id column")
    val textCol = TvfArgs.resolveColumn(spark, name, docs,
      str(2, "text column"), "text column")
    require(idCol != textCol,
      s"$name: id and text columns must differ (both $idCol)")
    val tf = docs.schema.fields.find(_.name == textCol).get
    require(tf.dataType == StringType,
      s"$name: text column $textCol must be string, got ${tf.dataType}")
    val shaped = docs.select(
      org.apache.spark.sql.functions.col(idCol).as("doc_id"),
      org.apache.spark.sql.functions.col(textCol).as("text"))
    (shaped, w, occCap)
  }

  val spansName = "dup_spans"
  val islandsName = "dup_islands"
  val exciseName = "dedup_excise"

  def spansInfo: ExpressionInfo = new ExpressionInfo(
    DupSpansSql.getClass.getName, spansName,
    "dup_spans(docs, id_col, text_col, w, occ_cap) - maximal" +
      " duplicated substrings of any length >= w tokens per document" +
      " pair: (doc_a, doc_b, start_a, end_a, start_b, end_b," +
      " span_tokens, n_windows); docs is a string-literal table name" +
      " or TABLE(subquery), columns are string literals, w an integer" +
      " literal in [2, 4096], occ_cap an integer literal in" +
      " [2, 1048576] (the per-hash pair fan-out bound - a recall cap," +
      " audited by dupSpanAudit)")

  def islandsInfo: ExpressionInfo = new ExpressionInfo(
    DupSpansSql.getClass.getName, islandsName,
    "dup_islands(docs, id_col, text_col, w, occ_cap) - per-document" +
      " MAXIMAL duplicated intervals: dup_spans' pair spans projected" +
      " onto each document and interval-merged (overlap/adjacency from" +
      " ANY partner coalesces), the removal unit an excision pass cuts:" +
      " (doc_id, start_tok, end_tok, span_tokens, n_sources); same" +
      " arguments and bounds as dup_spans")

  def exciseInfo: ExpressionInfo = new ExpressionInfo(
    DupSpansSql.getClass.getName, exciseName,
    "dedup_excise(docs, id_col, text_col, w, occ_cap) - Lee et al.'s" +
      " removal step over the maximal-span recovery: every duplicated" +
      " substring keeps its first occurrence (lower doc id) and is" +
      " excised from every later one; (doc_id, n_tokens, n_removed," +
      " clean_text, clean_md5); same arguments and bounds as dup_spans")

  val spansBuilder: Seq[Expression] => LogicalPlan = { args =>
    val (docs, w, occCap) = decode(spansName, args)
    graft.ext.TextOps.maximalDupSpans(docs, w, occCap)
      .queryExecution.analyzed
  }

  val islandsBuilder: Seq[Expression] => LogicalPlan = { args =>
    val (docs, w, occCap) = decode(islandsName, args)
    graft.ext.TextOps.maximalDupIslands(docs, w, occCap)
      .queryExecution.analyzed
  }

  val exciseBuilder: Seq[Expression] => LogicalPlan = { args =>
    val (docs, w, occCap) = decode(exciseName, args)
    graft.ext.TextOps.dedupExcise(docs, w, occCap)
      .queryExecution.analyzed
  }
}
