package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
      // metadata, never data: hidden/staging entries (a file landed by
      // renaming it from a `.` name) and `_`-prefixed metadata — same
      // convention as Hadoop outputs
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString).sorted
}

private class ShardTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"dynamo_shards($path)"
  override def schema(): StructType = ShardStreamSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ShardScan(path)
}

private class ShardScan(path: String) extends Scan {
  override def readSchema(): StructType = ShardStreamSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardMicroBatchStream(path)
}

/** Offset = number of shard files fully consumed (monotone). */
private case class ShardOffset(consumed: Long) extends Offset {
  override def json(): String = consumed.toString
}

private class ShardMicroBatchStream(path: String) extends MicroBatchStream {
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
  override def createReaderFactory(): PartitionReaderFactory = ShardReaderFactory
}

private case class ShardPartition(file: String) extends InputPartition

/** One `(value, shard_file, line_no)` row per line of a shard file,
  * `line_no` 0-based. */
private object ShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ShardPartition].file
    new PartitionReader[InternalRow] {
      private val lines = Files.readAllLines(
        Paths.get(file), StandardCharsets.UTF_8).iterator()
      private val shardFile = UTF8String.fromString(file)
      private var lineNo = -1L
      private var current: String = _
      override def next(): Boolean = lines.hasNext && {
        current = lines.next(); lineNo += 1
        true
      }
      override def get(): InternalRow =
        new GenericInternalRow(
          Array[Any](UTF8String.fromString(current), shardFile, lineNo))
      override def close(): Unit = ()
    }
  }
}
