package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructType}

/** DataSource V2 BATCH WRITE half of the shard-file source — the
  * distributed two-phase commit a real object-store sink runs at
  * 1000-executor scale, in its minimal honest form:
  *
  *  - **Task phase**: every partition writer streams its rows to a
  *    STAGED file under `<path>/.staging/<writeId>/` — invisible to
  *    readers ([[ShardStreamSource.sortedShards]] lists only regular
  *    files in the top directory). Task `commit()` seals the file and
  *    ships a [[ShardCommitMessage]] (partition id, staged path, row
  *    count) to the driver. A speculative/retried attempt stages its
  *    OWN file; Spark's commit coordinator guarantees exactly one
  *    attempt per partition gets `commit()` — the losers are
  *    `abort()`ed and their staged files deleted.
  *  - **Driver phase**: `BatchWrite.commit` publishes each staged file
  *    with an atomic same-filesystem rename to
  *    `shard-<writeId>-<partition>.json`, then commits the manifest
  *    `_manifest-<writeId>` LAST — the job-level commit record listing
  *    every shard and row count — through [[graft.Generations.commit]]
  *    (temp write, hard link), so a manifest is complete or absent,
  *    never torn, and a crash leaves at most a `.`-temp no reader
  *    lists. `abort` deletes the staging directory; a crash mid-publish
  *    leaves no manifest, so an auditing reader can distinguish a torn
  *    job (shards without manifest) from a committed one — the same
  *    marker-is-the-commit design as the TxnLog sink
  *    (`sink/EmailJobSink.scala`).
  *
  * The written files are byte-compatible with the read side: one JSON
  * payload per line, so `spark.read.format(shard source).load()` on
  * the same directory round-trips what was written (provenance columns
  * `shard_file`/`line_no` are assigned by the reader).
  *
  * Write schema: any schema carrying a `value` STRING field
  * (ACCEPT_ANY_SCHEMA on the table; validated fail-fast in `build()`);
  * other fields are ignored, mirroring how the Kafka sink consumes
  * only its `value` column. */
private[graft] class ShardWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = {
    val schema = info.schema()
    val idx = schema.fieldNames.indexOf("value")
    require(idx >= 0 && schema.fields(idx).dataType == StringType,
      s"shard sink requires a 'value' STRING column, got ${schema.simpleString}")
    new ShardWrite(path, idx)
  }
}

private class ShardWrite(path: String, valueIdx: Int) extends Write {
  override def toBatch: BatchWrite = new ShardBatchWrite(path, valueIdx)
}

private[graft] case class ShardCommitMessage(partitionId: Int,
    stagedPath: String, rows: Long) extends WriterCommitMessage

private class ShardBatchWrite(path: String, valueIdx: Int)
    extends BatchWrite {
  private val writeId = UUID.randomUUID().toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    ShardWriterFactory(path, writeId, valueIdx)

  /** Publishes the staged shards, then the manifest — the job's commit
    * record — through [[graft.Generations.commit]]: complete or absent,
    * never torn. A crash before its link leaves shards without a
    * manifest (a torn job) and at most a `.`-temp, which neither
    * [[ShardStreamSource.sortedShards]] nor a `_manifest-` scan lists. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: ShardCommitMessage => m }
      .sortBy(_.partitionId)
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val published = msgs.map { m =>
      val dest = dir.resolve(f"shard-$writeId-${m.partitionId}%05d.json")
      // same-filesystem rename: atomic publish per shard
      Files.move(Paths.get(m.stagedPath), dest,
        StandardCopyOption.ATOMIC_MOVE)
      (dest.getFileName.toString, m.rows)
    }
    val manifest = published
      .map { case (f, n) => s"""{"shard":"$f","rows":$n}""" }
      .mkString("", "\n", "\n")
    if (!graft.Generations.commit(dir.resolve(s"_manifest-$writeId"), manifest))
      throw new IllegalStateException(s"write $writeId at $path: manifest " +
        "already committed")
    cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupStaging()

  private def cleanupStaging(): Unit =
    graft.DirIO.deleteRecursively(Paths.get(path, ".staging", writeId))
}

private[graft] case class ShardWriterFactory(path: String, writeId: String,
    valueIdx: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new ShardDataWriter(path, writeId, valueIdx, partitionId, taskId)
}

/** Per-task staged writer. The staged name carries the TASK id, so two
  * attempts of one partition never collide; only the committed
  * attempt's message reaches the driver publish loop. */
private class ShardDataWriter(path: String, writeId: String, valueIdx: Int,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val staged = {
    val dir = Paths.get(path, ".staging", writeId)
    Files.createDirectories(dir)
    dir.resolve(f"part-$partitionId%05d-$taskId")
  }
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8,
    StandardOpenOption.CREATE_NEW)
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    out.write(record.getUTF8String(valueIdx).toString)
    out.write('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    ShardCommitMessage(partitionId, staged.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
