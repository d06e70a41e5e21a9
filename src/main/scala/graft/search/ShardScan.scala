package graft.search

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Attribute, AttributeSet, Literal,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.build.{DocRow, PostingRow}
import graft.query.CompiledQuery

/** Shard-local serving: one task reads whole shards and runs the kernel
  * over them in place, so no Exchange sits below the kernel.
  *
  * The build writes each shard's rows under its own `shard=N/` directory,
  * so the rows a kernel needs already sit together on disk — RUM's scan
  * reads a posting list and its payloads in one pass (src/rumget.c:
  * 536-696 startScanEntry, 1426-1568 scanGetItemRegular). The driver
  * packs whole shards into min(p, nShards) input partitions (p = the
  * shuffle width, the rule `IndexBuilder.shardRouting` builds with). A task
  * reads its shards' files with Spark's parquet reader — the term
  * predicate pushed down for row-group pruning, then re-checked per row —
  * and hands the kernel one shard at a time, so a task holds one shard's
  * rows. A primary read with a full-scan slot also reads the shard's docs
  * files in the same task, and its full-scan slots walk them.
  *
  * [[ShardScan]] is the logical leaf, [[ShardScanExec]] its physical exec
  * and [[ShardScanStrategy]] the planner rule; every kernel emits rows of
  * [[ShardScan.Schema]].
  */
private[search] object ShardScan {

  /** Kernel output: slot, docId (or bucket / count), slot score, the
    * top-k order keys `sort` (double) and `sort2` (exact long), and the
    * payload addon.
    */
  val Schema: StructType = StructType(Seq(
    StructField("qi", IntegerType, nullable = false),
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("sort", DoubleType, nullable = false),
    StructField("sort2", LongType, nullable = false),
    StructField("addon", LongType, nullable = false)))

  /** One kernel output row, in [[Schema]] order. */
  type Out = (Int, Long, Double, Double, Long, Long)

  /** The shard's directory value, appended to every row read. */
  private val ShardCol = StructType(Seq(StructField("shard", IntegerType, nullable = false)))
  private def dataSchema[T <: Product : scala.reflect.runtime.universe.TypeTag]: StructType =
    StructType(Encoders.product[T].schema.filterNot(_.name == "shard"))
  private val PostingData = dataSchema[PostingRow]
  private val DocData = dataSchema[DocRow]

  /** One committed parquet file. */
  final case class File(path: String, size: Long, mtime: Long)

  /** One shard's files: its layout's postings and, when a slot full-scans,
    * its docs rows.
    */
  final case class Shard(id: Int, postings: Seq[File], docs: Seq[File])

  /** What one scan reads: `groups(i)` = the whole shards of input
    * partition i, in ascending shard order. `location`/`docsLocation`
    * name the dataset directories for plan strings.
    */
  final case class Read(location: String, docsLocation: Option[String],
                        groups: Seq[Seq[Shard]]) {
    def bytes: Long = groups.flatten.flatMap(s => s.postings ++ s.docs).map(_.size).sum
    def nShards: Int = groups.map(_.size).sum
  }

  /** A DataFrame over `kernel` run shard-locally on `read`. */
  def frame(spark: SparkSession, kernel: ShardKernel, read: Read): DataFrame = {
    ShardScanStrategy.register(spark)
    val plan = ShardScan(kernel, read, DataTypeUtils.toAttributes(Schema))
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
      Encoders.row(Schema))
  }

  /** The rows of `df` (a [[frame]], usually behind a shared exchange)
    * whose slot is in `qis`. A plain filter would be pushed below the
    * exchange into each branch, which then could no longer reuse it.
    */
  def slotRows(df: DataFrame, qis: Seq[Int]): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      SlotRows(qis, df.queryExecution.analyzed), Encoders.row(df.schema))

  /** Hands `rows` and `docs` (both in ascending shard order) to `kernel`
    * one shard at a time: a shard's rows are buffered, its docs sorted by
    * docId into one indexed sequence every full-scan slot walks, and its
    * output drained before the next shard is read.
    */
  private def perShard(kernel: ShardKernel, rows: Iterator[PostingRow],
                       docs: Iterator[DocRow]): Iterator[Out] = {
    val rs = rows.buffered
    val ds = docs.buffered
    def drain[T](it: scala.collection.BufferedIterator[T], shard: Int,
                 shardOf: T => Int): mutable.ArrayBuffer[T] = {
      val b = mutable.ArrayBuffer.empty[T]
      while (it.hasNext && shardOf(it.head) == shard) b += it.next()
      b
    }
    new Iterator[Iterator[Out]] {
      def hasNext: Boolean = rs.hasNext || ds.hasNext
      def next(): Iterator[Out] = {
        val shard = math.min(if (rs.hasNext) rs.head.shard else Int.MaxValue,
          if (ds.hasNext) ds.head.shard else Int.MaxValue)
        val shardRows = drain[PostingRow](rs, shard, _.shard)
        val shardDocs = drain[DocRow](ds, shard, _.shard).sortBy(_.docId)
        kernel.run(shardRows.iterator, shardDocs)
      }
    }.flatten
  }

  /** Runs on the driver: the parquet file RDD over `files` of every shard,
    * input partition i = `read.groups(i)`.
    */
  private def fileRdd(spark: SparkSession, read: Read, files: Shard => Seq[File],
                      data: StructType, filters: Seq[sources.Filter]): FileScanRDD = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, data, ShardCol, data, filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val parts = read.groups.zipWithIndex.map { case (shards, i) =>
      FilePartition(i, shards.flatMap(s => files(s).map(f =>
        PartitionedFile(InternalRow(s.id), org.apache.spark.paths.SparkPath.fromPathString(f.path),
          0L, f.size, Array.empty[String], f.mtime, f.size))).toArray)
    }
    new FileScanRDD(spark, reader, parts, StructType(data ++ ShardCol))
  }

  private def encoderOf[T <: Product : scala.reflect.runtime.universe.TypeTag](
      data: StructType): ExpressionEncoder[T] =
    ExpressionEncoder[T]().resolveAndBind(DataTypeUtils.toAttributes(StructType(data ++ ShardCol)))

  /** The exec's RDD: reads, per-row term check, kernel, output rows. */
  private[search] def execute(spark: SparkSession, kernel: ShardKernel, read: Read,
                              numOutputRows: org.apache.spark.sql.execution.metric.SQLMetric)
      : RDD[InternalRow] = {
    val terms = kernel.terms
    val postEnc = encoderOf[PostingRow](PostingData)
    val docEnc = encoderOf[DocRow](DocData)
    val postings = fileRdd(spark, read, s => if (terms.isEmpty) Nil else s.postings,
      PostingData, terms.filter.toSeq)
    def task(post: Iterator[InternalRow], docs: Iterator[InternalRow]): Iterator[InternalRow] = {
      val toPosting = postEnc.createDeserializer()
      val toDoc = docEnc.createDeserializer()
      // pushed filters prune row groups only: each row's term is checked
      // here, before it is decoded
      val rows = post.filter(r => terms.contains(r.getUTF8String(0))).map(toPosting)
      val width = Schema.length
      val out = new UnsafeRow(width)
      val bytes = UnsafeRow.calculateBitSetWidthInBytes(width) + 8 * width
      out.pointTo(new Array[Byte](bytes), bytes)
      perShard(kernel, rows, docs.map(toDoc)).map { t =>
        numOutputRows += 1
        out.setInt(0, t._1); out.setLong(1, t._2); out.setDouble(2, t._3)
        out.setDouble(3, t._4); out.setLong(4, t._5); out.setLong(5, t._6)
        out
      }
    }
    if (!kernel.readsDocs) postings.mapPartitions(task(_, Iterator.empty))
    else postings.zipPartitions(fileRdd(spark, read, _.docs, DocData, Nil))(task)
  }
}

/** The terms one kernel pass reads: exact keys plus prefix ranges
  * [p, p + U+FFFF).
  */
private[search] final case class TermSet(exact: Seq[String], prefixes: Seq[String]) {
  def isEmpty: Boolean = exact.isEmpty && prefixes.isEmpty

  def ++(o: TermSet): TermSet =
    TermSet((exact ++ o.exact).distinct, (prefixes ++ o.prefixes).distinct)

  /** The parquet pushdown: `In(term, …)` or'ed with the prefix ranges. */
  def filter: Option[sources.Filter] = {
    val in = if (exact.isEmpty) Nil else Seq(sources.In("term", exact.toArray[Any]))
    val ranges = prefixes.map(p => sources.And(sources.GreaterThanOrEqual("term", p),
      sources.LessThan("term", p + "\uFFFF")))
    (in ++ ranges).reduceOption[sources.Filter](sources.Or(_, _))
  }

  // compared as UTF-8 bytes, like the pushed string predicates
  @transient private lazy val exactU: Set[UTF8String] = exact.map(UTF8String.fromString).toSet
  @transient private lazy val rangesU: Array[(UTF8String, UTF8String)] =
    prefixes.map(p => (UTF8String.fromString(p), UTF8String.fromString(p + "\uFFFF"))).toArray

  def contains(t: UTF8String): Boolean =
    exactU.contains(t) || rangesU.exists { case (lo, hi) =>
      t.binaryCompare(lo) >= 0 && t.binaryCompare(hi) < 0 }
}

private[search] object TermSet {
  def of(cq: CompiledQuery): TermSet =
    TermSet(cq.keys.filter(!_.prefix).map(_.term).distinct.toSeq,
      cq.keys.filter(_.prefix).map(_.term).distinct.toSeq)
}

/** A per-shard kernel: reads one layout, emits [[ShardScan.Out]] rows. */
private[search] sealed trait ShardKernel extends Serializable {
  /** "postings" or "alt" */
  def layout: String
  def terms: TermSet
  def readsDocs: Boolean = false
  /** One shard's output; `docs` (read when [[readsDocs]]) ascends by docId. */
  def run(rows: Iterator[PostingRow],
          docs: scala.collection.IndexedSeq[DocRow]): Iterator[ShardScan.Out]
  /** the slots, for plan strings */
  def describe: String
}

private[search] object ShardKernel {

  /** Every primary-layout slot of a batch. The shard's rows are grouped by
    * term once; each slot's cursors then touch only its own keys, so
    * sibling slots' terms are invisible to it. A full-scan slot's
    * candidates are every doc of the shard (scanGetItemFull,
    * src/rumget.c:2024-2083), the rest draw theirs from the postings; both
    * kinds feed the same match, cover, count and Order2 code.
    */
  final case class Primary(specs: Array[Searcher.FusedSpec], nDocs: Long,
                           avgLen: Double, terms: TermSet) extends ShardKernel {
    def layout: String = "postings"
    override def readsDocs: Boolean = specs.exists(_.fullScan)
    def run(rows: Iterator[PostingRow],
            docs: scala.collection.IndexedSeq[DocRow]): Iterator[ShardScan.Out] = {
      val view = new SearchKernel.ShardView(rows)
      // (docId, distance, addon) of the slot's matches; k > 0 with score
      // keeps the shard's k best
      def matches(f: Searcher.FusedSpec, score: Boolean, k: Int) =
        if (f.fullScan) SearchKernel.fullScanShard(f.cq, f.keys, docs, view, score,
          f.matchOnly, k, f.method, f.scoreCq, f.scoreMap)
        else SearchKernel.matchShard(f.cq, f.keys, view, score, k, f.method,
          f.scoreCq, f.scoreMap)
      specs.iterator.flatMap { f =>
        f.mode match {
          // match (k = 0: every match) and cover top-k; the row carries
          // the match's addon (its posting payload, or its doc row)
          case 0 | 1 => matches(f, score = f.rank, k = f.k)
            .map(t => (f.qi, t._1, t._2, t._2, 0L, t._3))
          case 2 => SearchKernel.wandShard(f.terms, f.dfs, f.ubs, nDocs,
              avgLen, f.k, view)
            .map { case (id, s) => (f.qi, id, s, -s, 0L, 0L) } // sort asc = score desc
          // per-shard PARTIAL count: one row per (slot, shard); the match
          // set never leaves the shard
          case 3 =>
            var n = 0L
            val m = matches(f, score = false, k = 0)
            while (m.hasNext) { m.next(); n += 1 }
            Iterator.single((f.qi, n, 0.0, 0.0, 0L, 0L))
          // composite (rank, addonDist, docId): per-shard heap pruned on
          // the FULL tuple; sort2 carries the EXACT long addon distance so
          // the global top-k tie-breaks losslessly
          case _ => SearchKernel.order2Shard(matches(f, score = true, k = 0), f.c, f.op, f.k)
            .map { case (id, r, d2) => (f.qi, id, r, r, d2, 0L) }
        }
      }
    }
    def describe: String = specs.map(f =>
      Seq("match", "cover", "bm25", "count", "order2")(f.mode) + "#" + f.qi +
        (if (f.fullScan) "(fullscan)" else "")).mkString(", ")
  }

  /** Every alt-layout (ordered-scan) slot of a batch; `sort2` carries the
    * exact long distance (top-k), 0 (range) or the bucket count (facet).
    * Each term's runs merge once per shard across every slot that reads it.
    */
  final case class Alt(specs: Array[Searcher.AltFusedSpec], terms: TermSet)
      extends ShardKernel {
    def layout: String = "alt"
    def run(rows: Iterator[PostingRow],
            docs: scala.collection.IndexedSeq[DocRow]): Iterator[ShardScan.Out] = {
      val cells = new AltKernel.ShardCells(rows)
      specs.iterator.flatMap { f =>
        if (f.mode == 0)
          AltKernel.topKAddonShard(f.cq, f.keys, cells, f.c, f.op, f.k, f.floatUnits)
            .rows.iterator.map(t => (f.qi, t._1, 0.0, 0.0, t._2, t._3))
        else if (f.mode == 1)
          AltKernel.rangeAddonShard(f.cq, f.keys, cells, f.lo, f.hi)
            .map { case (d, a) => (f.qi, d, 0.0, 0.0, 0L, a) }
        // mode 2: per-shard facet partials (c = bucket width; float slots
        // bucket in VALUE space and emit the start's bit image)
        else if (!f.floatUnits)
          AltKernel.facetShard(f.cq, f.keys, cells, f.c, f.lo, f.hi)
            .map { case (b, n) => (f.qi, b, 0.0, 0.0, n, 0L) }
        else
          AltKernel.facetShardFloat(f.cq, f.keys, cells,
              graft.build.AddonUnits.floatFromOrderedBits(f.c),
              graft.build.AddonUnits.floatFromOrderedBits(f.lo), f.lo, f.hi)
            .map { case (b, n) => (f.qi, b, 0.0, 0.0, n, 0L) }
      }
    }
    def describe: String = specs.map(f =>
      Seq("addon", "range", "facet")(f.mode) + "#" + f.qi).mkString(", ")
  }

}

/** Logical leaf: `kernel` over `read`, shard-locally. One instance keeps
  * its attributes wherever a plan repeats it, so branches over it share
  * one exchange.
  */
private[search] final case class ShardScan(kernel: ShardKernel, read: ShardScan.Read,
                                           output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(read.bytes max 1L))
  override def simpleString(maxFields: Int): String =
    s"ShardScan ${read.location} [${kernel.describe}]"
}

/** The rows of the child whose slot (`qi`, the first column) is in `qis`.
  * Planned as a plain filter. Being its own node that references every
  * child column keeps the optimizer from pushing the filter or a column
  * pruning below a shared exchange, which would make the branches'
  * exchanges differ. The slots are one array literal, which generated
  * code reads by reference: every batch of one plan shape reuses the same
  * compiled stage, whichever slots its branches hold; an `In` list would
  * inline each slot as a constant and compile every new slot layout anew.
  */
private[search] final case class SlotRows(qis: Seq[Int], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): SlotRows = copy(child = c)
}

/** Physical exec of [[ShardScan]]: one task per group of whole shards. */
private[search] final case class ShardScanExec(kernel: ShardKernel, read: ShardScan.Read,
                                               output: Seq[Attribute]) extends LeafExecNode {
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(read.groups.length)

  protected override def doExecute(): RDD[InternalRow] =
    ShardScan.execute(session, kernel, read, longMetric("numOutputRows"))

  private def pushed: String = kernel.terms.filter.toSeq.mkString("[", ", ", "]")
  private def docsPart: String = read.docsLocation.fold("")(d => s", Docs: $d")

  override def simpleString(maxFields: Int): String =
    s"ShardScan ${read.location}$docsPart [${kernel.describe}], " +
      s"Shards: ${read.nShards}, Partitions: ${read.groups.length}, PushedFilters: $pushed"

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |Output [${output.size}]: ${output.mkString("[", ", ", "]")}
       |Location: ${read.location}$docsPart
       |Kernel: [${kernel.describe}]
       |Shards: ${read.nShards}, Partitions: ${read.groups.length}
       |PushedFilters: $pushed
       |""".stripMargin
}

/** Plans [[ShardScan]] and [[SlotRows]]; registered once per session. */
private[search] object ShardScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ShardScan(kernel, read, output) => ShardScanExec(kernel, read, output) :: Nil
    case SlotRows(qis, child) =>
      FilterExec(ArrayContains(Literal.create(qis.toArray, ArrayType(IntegerType, false)),
        child.output.head), planLater(child)) :: Nil
    case _ => Nil
  }

  def register(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
  }
}
