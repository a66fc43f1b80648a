package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source for DynamoDB-Streams-shaped shard
  * files (SURVEY.md §7.3's stretch source, interface-complete and backed
  * by local files — the offline stand-in for the AWS shard iterator).
  *
  * Contract mirrors the Kafka connector's: each output row is the raw
  * record payload (`value` JSON string) plus provenance (`shard_file`,
  * `line_no`); the pipeline parses with
  * `from_json(value, Model.envelopeSchema)`. A shard directory of
  * newline-delimited JSON files is consumed one file per offset step —
  * an offset is "how many files (sorted by name) are fully consumed",
  * the same monotone high-water-mark shape as a real shard iterator.
  * Files appended between micro-batches are picked up by the next
  * `latestOffset` poll, exactly like new stream shards.
  *
  * Usage: `spark.readStream.format(classOf[ShardStreamSource].getName)
  *   .option("path", dir).load()`
  */
class ShardStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardStreamSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardTable(properties.get("path"))
}

object ShardStreamSource {
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("shard_file", StringType),
    StructField("line_no", LongType)))

  private[graft] def sortedShards(path: String): Seq[String] =
    if (path == null || !Files.isDirectory(Paths.get(path))) Seq.empty
    else graft.DirIO.listPaths(Paths.get(path))
      .filter(p => Files.isRegularFile(p))
      // metadata, never data: commit manifests (_manifest-*) and any
      // hidden/staging entries — same convention as Hadoop outputs
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString).sorted

  /** The pushed shard_file filters as a file predicate — ONE
    * definition shared by the row scan and the count scan, so a new
    * supported filter shape cannot make their prunings diverge. */
  private[sources] def keepFile(pushed: Array[Filter])(file: String): Boolean =
    pushed.forall {
      case EqualTo("shard_file", v: String)   => file == v
      case In("shard_file", vs)               => vs.contains(file)
      case StringStartsWith("shard_file", p)  => file.startsWith(p)
      case _ => true
    }
}

private class ShardTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"dynamo_shards($path)"
  override def schema(): StructType = ShardStreamSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      // the writer consumes only the `value` column (validated in
      // ShardWriteBuilder.build) — callers may carry extra fields
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ShardWriteBuilder(path, info)
}

/** Filter pushdown on the provenance column: predicates on `shard_file`
  * (equality, IN, prefix) prune which files are planned at all — the
  * same server-side split the reference makes between its
  * KeyConditionExpression (applied at the partition/index level) and its
  * residual FilterExpression (applied per item after the read,
  * index.js:113-114). Anything else is returned to Spark as a residual
  * and evaluated post-scan.
  *
  * Column pruning (SupportsPushDownRequiredColumns): a projection that
  * needs only provenance never materializes the payload string — the
  * reader emits exactly the pruned schema. On a real shard service this
  * is the difference between shipping the full record and shipping a
  * key list (a scan that reads all columns for a 2-column projection is
  * wrong at any scale). */
private[graft] class ShardScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  private var pushedPreds: Array[Predicate] = Array.empty
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ShardStreamSource.schema
  private var limit: Int = Int.MaxValue
  private var countStarAggs: Int = 0

  /** Aggregate pushdown (SupportsPushDownAggregates): ungrouped
    * COUNT(*) is answered per shard file from the line count alone —
    * no row ever materializes through the reader, the moral
    * equivalent of a shard service's ItemCount metadata call. PARTIAL
    * pushdown (supportCompletePushDown = false): the scan emits one
    * partial-count row per file and Spark's final aggregate sums
    * them, so file-filter pruning composes and correctness never
    * depends on this source seeing every file in one place. Grouped
    * or non-count aggregates are declined and run post-scan. Spark
    * only attempts this when every filter was fully pushed — which is
    * why filter pushdown below speaks V2 predicates: V1-pushed
    * filters linger in the plan as residuals and made Spark skip this
    * path for every FILTERED count (r11 advisory); with V2 the
    * pushed-and-removed file predicates compose with the count scan,
    * and the count is never taken over rows a residual would have
    * dropped. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().nonEmpty &&
      aggregation.aggregateExpressions().forall(_.isInstanceOf[CountStar])
    if (ok) countStarAggs = aggregation.aggregateExpressions().length
    ok
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL limit push: each partition reader stops after `n` rows (a
    * shard iterator's page-size cap); Spark still applies the global
    * limit above, so returning false keeps the plan correct while the
    * readers stop touching lines they cannot need. */
  override def pushLimit(n: Int): Boolean = {
    limit = n
    false
  }

  private def fieldName(e: V2Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head)
    case _ => None
  }
  private def strLit(e: V2Expression): Option[String] = e match {
    case l: Literal[_] if l.dataType == StringType && l.value != null =>
      Some(l.value.toString)
    case _ => None
  }

  /** V2 predicate → the V1 [[Filter]] shapes [[ShardStreamSource
    * .keepFile]] evaluates; None for anything this source can't prove
    * it evaluates exactly (those return to Spark as residuals). */
  private def toShardFilter(p: Predicate): Option[Filter] = p.name() match {
    case "=" => p.children() match {
      // catalyst normalizes attr-literal comparisons to attr-first,
      // but accept both orders rather than depend on it
      case Array(c, v) =>
        (for (n <- fieldName(c); s <- strLit(v)) yield EqualTo(n, s))
          .orElse(for (n <- fieldName(v); s <- strLit(c)) yield EqualTo(n, s))
      case _ => None
    }
    case "IN" => p.children() match {
      case arr if arr.length >= 2 =>
        for {
          n <- fieldName(arr.head)
          vs <- Option(arr.tail.map(strLit))
            .filter(_.forall(_.isDefined))
        } yield In(n, vs.map(_.get: Any))
      case _ => None
    }
    case "STARTS_WITH" => p.children() match {
      case Array(c, v) =>
        for (n <- fieldName(c); s <- strLit(v)) yield StringStartsWith(n, s)
      case _ => None
    }
    case _ => None
  }

  private def supported(f: Filter): Boolean = f match {
    case EqualTo("shard_file", _: String) => true
    case In("shard_file", _)              => true
    case StringStartsWith("shard_file", _) => true
    case _ => false
  }

  /** V2 predicate pushdown (SupportsPushDownV2Filters, not the V1
    * Filter interface): the practical difference is TRUST. With V1
    * filters Spark keeps every pushed filter in the plan as a
    * post-scan residual, and the presence of that residual makes
    * V2ScanRelationPushDown skip aggregate pushdown entirely — so a
    * filtered COUNT(*) never reached [[ShardCountScan]]. With V2
    * predicates Spark removes fully-pushed predicates from the plan,
    * which is sound here because every accepted shape is a predicate
    * on the per-file-constant `shard_file` column: pruning FILES via
    * [[ShardStreamSource.keepFile]] IS exact row-level evaluation.
    * Anything not file-constant is returned as residual and evaluated
    * post-scan by Spark. */
  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val translated = predicates.map(p =>
      p -> toShardFilter(p).filter(supported))
    pushedPreds = translated.collect { case (p, Some(_)) => p }
    pushed = translated.collect { case (_, Some(f)) => f }
    translated.collect { case (p, None) => p }
  }
  override def pushedPredicates(): Array[Predicate] = pushedPreds
  override def build(): Scan =
    if (countStarAggs > 0) new ShardCountScan(path, pushed, countStarAggs)
    else new ShardScan(path, pushed, required, limit)
}

/** The scan a pushed COUNT(*) builds: one partial-count row per
  * (filter-surviving) shard file, schema = one LongType per pushed
  * CountStar. Batch-only — aggregate pushdown never applies to the
  * micro-batch path. */
private[graft] class ShardCountScan(path: String, pushed: Array[Filter],
    nAggs: Int) extends Scan {
  override def readSchema(): StructType =
    StructType((0 until nAggs).map(i => StructField(s"count_$i", LongType)))
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ShardStreamSource.sortedShards(path)
        .filter(ShardStreamSource.keepFile(pushed))
        .map(ShardPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ShardCountReaderFactory(nAggs)
  }
}

private class ShardCountReaderFactory(nAggs: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ShardPartition].file
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        var n = 0L
        val s = Files.lines(Paths.get(file), StandardCharsets.UTF_8)
        try n = s.count() finally s.close()
        InternalRow.fromSeq(Seq.fill(nAggs)(n))
      }
      override def close(): Unit = ()
    }
  }
}

private[graft] class ShardScan(path: String,
    pushed: Array[Filter] = Array.empty,
    required: StructType = ShardStreamSource.schema,
    limit: Int = Int.MaxValue) extends Scan {
  override def readSchema(): StructType = required
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardMicroBatchStream(path, required)

  private[graft] def prunedFiles: Seq[String] =
    ShardStreamSource.sortedShards(path)
      .filter(ShardStreamSource.keepFile(pushed))

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      prunedFiles.map(ShardPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ShardReaderFactory(required, limit)
  }
}

/** Offset = number of shard files fully consumed (monotone). */
private case class ShardOffset(consumed: Long) extends Offset {
  override def json(): String = consumed.toString
}

private class ShardMicroBatchStream(path: String,
    required: StructType = ShardStreamSource.schema) extends MicroBatchStream {
  override def initialOffset(): Offset = ShardOffset(0)
  override def latestOffset(): Offset =
    ShardOffset(ShardStreamSource.sortedShards(path).size.toLong)
  override def deserializeOffset(json: String): Offset =
    ShardOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffset].consumed.toInt
    val e = end.asInstanceOf[ShardOffset].consumed.toInt
    ShardStreamSource.sortedShards(path).slice(s, e).map(ShardPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(required)
}

private[sources] case class ShardPartition(file: String) extends InputPartition

private class ShardReaderFactory(
    required: StructType = ShardStreamSource.schema,
    limit: Int = Int.MaxValue) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ShardPartition].file
    new PartitionReader[InternalRow] {
      private val lines = Files.readAllLines(
        Paths.get(file), StandardCharsets.UTF_8).iterator()
      private var lineNo = -1L
      private var current: String = _
      // one extractor per required field, resolved ONCE per partition —
      // get() just walks the array, no per-row name matching or Seq
      // building; an unknown field (a schema column added without a
      // reader case) fails loudly here, at reader construction, not as
      // a per-row MatchError mid-scan
      private val extractors: Array[() => Any] =
        required.fieldNames.map {
          case "value"      => () => UTF8String.fromString(current)
          case "shard_file" => () => UTF8String.fromString(file)
          case "line_no"    => () => lineNo
          case other => throw new IllegalArgumentException(
            s"ShardReaderFactory has no extractor for schema field '$other'")
        }
      override def next(): Boolean = {
        if (!lines.hasNext || lineNo + 1 >= limit) return false
        current = lines.next(); lineNo += 1
        true
      }
      override def get(): InternalRow = {
        val vals = new Array[Any](extractors.length)
        var i = 0
        while (i < extractors.length) { vals(i) = extractors(i)(); i += 1 }
        InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
      override def close(): Unit = ()
    }
  }
}
