package graft.search

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.build.{DocRow, PostingRow}

/** A Searcher's serving store for one layout: one persisted RDD with one
  * partition per shard group and one immutable [[ShardRecord]] per shard.
  *
  * RUM finds a key in its entry tree and reads only that key's posting
  * list, from pages already in shared buffers (src/rumget.c:536-696
  * startScanEntry). Here the first query that reads a layout decodes its
  * shards' files once; every later query runs its kernel over the cached
  * records and looks up only its own terms, so it opens no parquet file.
  *
  * The RDD is `MEMORY_ONLY`: a partition that is evicted or never cached
  * is recomputed from the manifest's files through lineage, so answers
  * never depend on the cache. It hangs off its Searcher only; Spark's
  * ContextCleaner unpersists it once the Searcher is unreachable. A new
  * snapshot is a new Searcher with a new store.
  *
  * `groups(i)` = the shards of partition i, ascending; `postings` and
  * `docs` = each shard's files (docs only for the primary layout).
  */
private[search] final class ShardStore(spark: SparkSession, val location: String,
                                       val groups: Seq[Seq[Int]],
                                       postings: Map[Int, Seq[ShardStore.File]],
                                       docs: Map[Int, Seq[ShardStore.File]])
    extends Serializable {
  /** bytes of the files the store decodes */
  val bytes: Long = (postings.values ++ docs.values).flatten.map(_.size).sum
  def nShards: Int = groups.map(_.size).sum

  // plans that hold the store are serialized with their tasks; only the
  // driver reads the RDD
  @transient val rdd: RDD[ShardRecord] = {
    import ShardStore._
    val shardsOf = groups
    fileRdd(spark, groups, postings, PostingData)
      .zipPartitions(fileRdd(spark, groups, docs, DocData))((p, d) => Iterator.single((p, d)))
      .mapPartitionsWithIndex { (i, parts) =>
        val (post, doc) = parts.next()
        val p = post.map(PostingEnc.createDeserializer()).buffered
        val d = doc.map(DocEnc.createDeserializer()).buffered
        shardsOf(i).iterator.map(s =>
          ShardRecord(s, shardRun[PostingRow](p, s, _.shard), shardRun[DocRow](d, s, _.shard)))
      }
      .setName(s"ShardStore $location")
      .persist(StorageLevel.MEMORY_ONLY)
  }
}

private[search] object ShardStore {

  /** One committed parquet file. */
  final case class File(path: String, size: Long, mtime: Long)

  /** The shard's directory value, appended to every row read. */
  private val ShardCol = StructType(Seq(StructField("shard", IntegerType, nullable = false)))
  private def dataSchema[T <: Product : scala.reflect.runtime.universe.TypeTag]: StructType =
    StructType(Encoders.product[T].schema.filterNot(_.name == "shard"))
  private val PostingData = dataSchema[PostingRow]
  private val DocData = dataSchema[DocRow]

  private def encoderOf[T <: Product : scala.reflect.runtime.universe.TypeTag](
      data: StructType): ExpressionEncoder[T] =
    ExpressionEncoder[T]().resolveAndBind(DataTypeUtils.toAttributes(StructType(data ++ ShardCol)))
  // built once per JVM, not shipped in every task that decodes a partition
  private lazy val PostingEnc = encoderOf[PostingRow](PostingData)
  private lazy val DocEnc = encoderOf[DocRow](DocData)

  /** The rows of `it` in `shard`: a partition's files are listed shard by
    * shard, so each shard's rows are one run.
    */
  private def shardRun[T](it: BufferedIterator[T], shard: Int, shardOf: T => Int): Iterator[T] =
    new Iterator[T] {
      def hasNext: Boolean = it.hasNext && shardOf(it.head) == shard
      def next(): T = it.next()
    }

  /** The parquet file RDD over every shard's `files`, input partition i =
    * the files of `groups(i)` in shard order, then path order.
    */
  private def fileRdd(spark: SparkSession, groups: Seq[Seq[Int]],
                      files: Map[Int, Seq[File]], data: StructType): FileScanRDD = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, data, ShardCol, data, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val parts = groups.zipWithIndex.map { case (shards, i) =>
      FilePartition(i, shards.flatMap(s => files.getOrElse(s, Nil).map(f =>
        PartitionedFile(InternalRow(s), org.apache.spark.paths.SparkPath.fromPathString(f.path),
          0L, f.size, Array.empty[String], f.mtime, f.size))).toArray)
    }
    new FileScanRDD(spark, reader, parts, StructType(data ++ ShardCol))
  }
}

/** One shard's rows as the store keeps them: its chunk rows grouped by
  * term, with the terms sorted in UTF-8 byte order (parquet's string
  * order) and each term's rows in arrival order, file path then row; in
  * the primary layout also its docs rows, sorted by docId. Immutable:
  * concurrent tasks share one record by reference, and everything a query
  * memoizes lives in its task ([[TermMemo]]).
  */
final class ShardRecord private (val id: Int, keys: Array[Array[Byte]],
                                 rows: Array[Array[PostingRow]],
                                 val docs: Array[DocRow]) extends Serializable {
  def nTerms: Int = keys.length
  def rowsAt(i: Int): Array[PostingRow] = rows(i)

  /** first term index whose key is >= `b` */
  private def lowerBound(b: Array[Byte]): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(keys(mid), b) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The indexes of a query key's terms: an exact key's term, if the
    * shard holds it, or the run of terms whose bytes start with a prefix
    * key's bytes.
    */
  def termsOf(k: SearchKernel.KeySpec): Range = {
    val b = k.term.getBytes(UTF_8)
    val from = lowerBound(b)
    var until = from
    if (!k.prefix) { if (from < keys.length && java.util.Arrays.equals(keys(from), b)) until += 1 }
    else while (until < keys.length && keys(until).length >= b.length &&
        java.util.Arrays.equals(keys(until), 0, b.length, b, 0, b.length)) until += 1
    from until until
  }
}

object ShardRecord {
  /** `rows` and `docs`: one shard's, in arrival order */
  def apply(id: Int, rows: Iterator[PostingRow], docs: Iterator[DocRow]): ShardRecord = {
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingRow]]
    rows.foreach(r => byTerm.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty) += r)
    val sorted = byTerm.toArray.map { case (t, rs) => (t.getBytes(UTF_8), rs.toArray) }
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
    new ShardRecord(id, sorted.map(_._1), sorted.map(_._2), docs.toArray.sortBy(_.docId))
  }
}

/** One task's memo of a per-term structure over one record, built from
  * the term's chunk rows the first time a slot asks for it. That is when
  * the rows count as handed to the kernel (`handed`, once per term).
  */
private[search] final class TermMemo[T <: AnyRef : ClassTag](
    record: ShardRecord, handed: Long => Unit)(build: Array[PostingRow] => T) {
  private val memo = new Array[T](record.nTerms)
  def apply(i: Int): T = {
    if (memo(i) eq null) {
      val rs = record.rowsAt(i)
      handed(rs.length)
      memo(i) = build(rs)
    }
    memo(i)
  }
}
