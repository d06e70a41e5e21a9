package graft.search

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayContains, Attribute, AttributeSeq,
  AttributeSet, BindReferences, IntegerLiteral, InterpretedOrdering, InterpretedUnsafeProjection,
  Literal, NamedExpression, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, Limit, LogicalPlan,
  Project, ReturnAnswer, Sort, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.query.CompiledQuery

/** Shard-local serving: one task runs the kernel over whole shards in
  * place, so no Exchange sits below the kernel.
  *
  * A layout's shards live in the Searcher's [[ShardStore]]: one cached
  * partition per group of whole shards, min(p, nShards) groups (p = the
  * shuffle width, the rule `IndexBuilder.shardRouting` builds with). A
  * task hands the kernel one [[ShardRecord]] at a time, and each slot
  * looks up only its own terms in it — RUM's scan reads a key's posting
  * list and its payloads in one pass (src/rumget.c:536-696
  * startScanEntry, 1426-1568 scanGetItemRegular). Full-scan slots walk
  * the record's docs rows. No parquet file is opened once the store is
  * cached.
  *
  * [[ShardScan]] is the logical leaf, [[ShardScanExec]] its physical exec
  * and [[ShardScanStrategy]] the planner rule; every kernel emits rows of
  * [[ShardScan.Schema]].
  *
  * A one-slot scan also takes the final step of a solo query, as RUM's
  * scan answers a count from its bitmap and `ORDER BY … LIMIT k` from its
  * own ordered items, with no node above it (src/rumget.c:2105-2145
  * rumgetbitmap, 2218-2301 insertScanItem). A global count over an
  * unranked Match slot and an ordered limit over a bounded slot plan as
  * the scan with a [[ShardScan.Merge]]: the tasks ship their per-shard
  * count partials or top-k heaps (at most k rows per shard), and the
  * driver sums them or sorts them by the plan's own order and takes k.
  * Such a query is one job of one stage, with no Exchange, aggregate or
  * TakeOrderedAndProject in its plan.
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

  /** A DataFrame over `kernel` run shard-locally on `store`. */
  def frame(spark: SparkSession, kernel: ShardKernel, store: ShardStore): DataFrame = {
    ShardScanStrategy.register(spark)
    val plan = ShardScan(kernel, store, DataTypeUtils.toAttributes(Schema))
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

  /** The kernel over the cached records of one partition, as output rows,
    * counting shards, posting rows and output rows. A task function, not a
    * closure: a named class passes `SparkContext.runJob` without a
    * ClosureCleaner scan.
    */
  private[search] final class KernelRows(kernel: ShardKernel, numOutputRows: SQLMetric,
                                         postingRows: SQLMetric, shards: SQLMetric)
      extends ((TaskContext, Iterator[ShardRecord]) => Array[InternalRow]) with Serializable {
    /** the rows, in one reused mutable row */
    def iterator(records: Iterator[ShardRecord]): Iterator[InternalRow] = {
      val width = Schema.length
      val out = new UnsafeRow(width)
      val bytes = UnsafeRow.calculateBitSetWidthInBytes(width) + 8 * width
      out.pointTo(new Array[Byte](bytes), bytes)
      records.flatMap { r =>
        shards += 1
        kernel.run(r, postingRows += _)
      }.map { t =>
        numOutputRows += 1
        out.setInt(0, t._1); out.setLong(1, t._2); out.setDouble(2, t._3)
        out.setDouble(3, t._4); out.setLong(4, t._5); out.setLong(5, t._6)
        out
      }
    }

    /** the rows, copied: a merged slot's per-shard partials or heaps */
    def apply(ctx: TaskContext, records: Iterator[ShardRecord]): Array[InternalRow] =
      iterator(records).map(_.copy(): InternalRow).toArray
  }

  /** The final step of a one-slot scan, run over the kernel rows of every
    * shard (`in` = the scan's output attributes).
    */
  private[search] sealed trait Merge extends Serializable {
    def output: Seq[Attribute]
    def apply(rows: Iterator[InternalRow], in: Seq[Attribute]): Array[InternalRow]
  }

  private[search] object Merge {
    /** `count(<non-null literal>)`: the sum of a Count slot's per-shard
      * partials (the docId column).
      */
    final case class Counted(output: Seq[Attribute]) extends Merge {
      def apply(rows: Iterator[InternalRow], in: Seq[Attribute]): Array[InternalRow] = {
        var n = 0L
        rows.foreach(r => n += r.getLong(1))
        Array(InterpretedUnsafeProjection.createProjection(Seq(Literal(n)))(InternalRow.empty))
      }
      override def toString: String = "count"
    }

    /** `ORDER BY order LIMIT k`, then `project`: the k first of every
      * shard's heap rows. Each slot order ends in docId, so no two rows tie
      * and the k rows are the ones TakeOrderedAndProject would return.
      */
    final case class TopK(k: Int, order: Seq[SortOrder], project: Seq[NamedExpression])
        extends Merge {
      def output: Seq[Attribute] = project.map(_.toAttribute)
      def apply(rows: Iterator[InternalRow], in: Seq[Attribute]): Array[InternalRow] = {
        val top = rows.toArray.sorted(new InterpretedOrdering(order, in)).take(k)
        val proj = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(project, AttributeSeq(in)))
        proj.initialize(0)
        top.map(r => proj(r).copy(): InternalRow)
      }
      override def toString: String = s"top $k"
    }
  }
}

/** The terms one kernel pass looks up: exact keys plus prefixes. */
private[search] final case class TermSet(exact: Seq[String], prefixes: Seq[String]) {
  def ++(o: TermSet): TermSet =
    TermSet((exact ++ o.exact).distinct, (prefixes ++ o.prefixes).distinct)

  /** for plan strings; a prefix in tsquery form, `p:*` */
  override def toString: String = (exact ++ prefixes.map(_ + ":*")).mkString("[", ", ", "]")
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
  def specs: Array[Searcher.FusedSpec]
  def terms: TermSet
  /** One shard's output; `handed` is told the posting rows of each term
    * the kernel looks up, once per term.
    */
  def run(shard: ShardRecord, handed: Long => Unit): Iterator[ShardScan.Out]
  /** the slots, for plan strings */
  def describe: String = specs.map(f =>
    Seq("match", "cover", "bm25", "count", "composite", "range", "facet")(f.mode) + "#" + f.qi +
      (if (f.fullScan) "(fullscan)" else "")).mkString(", ")
}

private[search] object ShardKernel {

  /** Every primary-layout slot of a batch. Each slot's cursors touch only
    * its own keys' rows of the shard, so sibling slots' terms are invisible
    * to it. A full-scan slot's candidates are every doc of the shard, from
    * the record's docs rows (scanGetItemFull,
    * src/rumget.c:2024-2083), the rest draw theirs from the postings; both
    * kinds feed the same match, cover, count, composite top-k, range and
    * facet code. The ordered-scan modes run over the slot's match stream,
    * whose rows carry each match's addon — RUM orders by the addon inside
    * the index scan (src/rumget.c:2218-2301 insertScanItem).
    */
  final case class Primary(specs: Array[Searcher.FusedSpec], nDocs: Long,
                           avgLen: Double, terms: TermSet) extends ShardKernel {
    def layout: String = "postings"
    def run(shard: ShardRecord, handed: Long => Unit): Iterator[ShardScan.Out] = {
      val view = new SearchKernel.ShardView(shard, handed)
      // (docId, distance, addon) of the slot's matches; k > 0 with score
      // keeps the shard's k best
      def matches(f: Searcher.FusedSpec, score: Boolean, k: Int) =
        if (f.fullScan) SearchKernel.fullScanShard(f.cq, f.keys, shard.docs, view, score,
          f.matchOnly, k, f.method, f.scoreCq, f.scoreMap)
        else SearchKernel.matchShard(f.cq, f.keys, view, score, k, f.method,
          f.scoreCq, f.scoreMap)
      // the addons of the slot's matches in [lo, hi]
      def inRange(f: Searcher.FusedSpec) =
        matches(f, score = false, k = 0).filter(t => t._3 >= f.lo && t._3 <= f.hi)
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
          // composite top-k: per-shard heap pruned on the FULL key
          case 4 => SearchKernel.compositeShard(matches(f, score = f.rank, k = 0), f.order, f.k)
            .map { case (id, r, a) => compositeRow(f, id, r, a) }
          case 5 => inRange(f).map(t => (f.qi, t._1, 0.0, 0.0, 0L, t._3))
          case _ => facetRows(f, inRange(f).map(_._3))
        }
      }
    }
  }

  /** Every alt-layout (ordered-scan) slot of a batch: composite top-k over
    * one addon key, addon range and facet partials, each from the bounded
    * addon-ordered stream. Each term's runs merge once per shard across
    * every slot that reads it.
    */
  final case class Alt(specs: Array[Searcher.FusedSpec], terms: TermSet)
      extends ShardKernel {
    def layout: String = "alt"
    def run(shard: ShardRecord, handed: Long => Unit): Iterator[ShardScan.Out] = {
      val cells = new AltKernel.ShardCells(shard, handed)
      def inRange(f: Searcher.FusedSpec) =
        AltKernel.rangeAddonShard(f.cq, f.keys, cells, f.lo, f.hi)
      specs.iterator.flatMap { f =>
        f.mode match {
          case 4 =>
            val key = f.order(0)
            AltKernel.topKAddonShard(f.cq, f.keys, cells, key.c, key.op, f.k, key.floatUnits)
              .rows.iterator.map(t => compositeRow(f, t._1, 0.0, t._3))
          case 5 => inRange(f).map { case (d, a) => (f.qi, d, 0.0, 0.0, 0L, a) }
          case _ => facetRows(f, inRange(f).map(_._2))
        }
      }
    }
  }

  /** A composite top-k slot's row: `sort` = the rank, `sort2` = the first
    * addon key's exact distance ([[AltKernel.satDist]]) — the batch
    * window's order of Order2 and addon top-k slots; score = the rank when
    * the slot ranks, else that distance.
    */
  private def compositeRow(f: Searcher.FusedSpec, id: Long, rank: Double,
                           addon: Long): ShardScan.Out = {
    val key = f.order.find(!_.rank)
    val d = key.fold(0L)(_.dist(addon))
    (f.qi, id, if (f.rank) rank else key.get.score(d), rank, d, addon)
  }

  /** A facet slot's per-shard bucket partials over its in-range addons:
    * (qi, bucket, count in `sort2`).
    */
  private def facetRows(f: Searcher.FusedSpec, addons: Iterator[Long]): Iterator[ShardScan.Out] =
    SearchKernel.bucketCounts(addons, SearchKernel.facetBucket(f.width, f.lo, f.floatUnits))
      .map { case (b, n) => (f.qi, b, 0.0, 0.0, n, 0L) }

}

/** Logical leaf: `kernel` over `store`, shard-locally. One instance keeps
  * its attributes wherever a plan repeats it, so branches over it share
  * one exchange.
  */
private[search] final case class ShardScan(kernel: ShardKernel, store: ShardStore,
                                           output: Seq[Attribute]) extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(store.bytes max 1L))
  override def simpleString(maxFields: Int): String =
    s"ShardScan ${store.location} [${kernel.describe}]"
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

/** Physical exec of [[ShardScan]]: one task per group of whole shards.
  * Besides its output rows it counts the cached shard records its kernel
  * visited and the posting rows the kernel looked up in them.
  *
  * With a `merge` its output is the merged rows, in one partition:
  * `executeCollect` runs the kernel in one job over every group and merges
  * the tasks' rows on the driver; `doExecute`, which feeds an operator
  * above, computes the same rows in one task.
  */
private[search] final case class ShardScanExec(kernel: ShardKernel, store: ShardStore,
                                               scanOutput: Seq[Attribute],
                                               merge: Option[ShardScan.Merge])
    extends LeafExecNode {
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "postingRows" -> SQLMetrics.createMetric(sparkContext, "posting rows handed to the kernel"),
    "shards" -> SQLMetrics.createMetric(sparkContext, "shards visited"))

  override def output: Seq[Attribute] = merge.fold(scanOutput)(_.output)

  override def outputPartitioning: Partitioning =
    if (merge.isDefined) SinglePartition else UnknownPartitioning(store.groups.length)

  private def kernelRows = new ShardScan.KernelRows(kernel, longMetric("numOutputRows"),
    longMetric("postingRows"), longMetric("shards"))

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = kernelRows
    merge match {
      case None => store.rdd.mapPartitions(rows.iterator)
      case Some(m) =>
        val in = scanOutput
        store.rdd.coalesce(1).mapPartitions(rs =>
          m(rows(TaskContext.get(), rs).iterator, in).iterator)
    }
  }

  override def executeCollect(): Array[InternalRow] = merge match {
    case None => super.executeCollect()
    case Some(m) =>
      val parts = sparkContext.runJob(store.rdd, kernelRows, store.rdd.partitions.indices)
      m(parts.iterator.flatten, scanOutput)
  }

  override def executeTake(n: Int): Array[InternalRow] =
    if (merge.isDefined) executeCollect().take(n) else super.executeTake(n)

  override def simpleString(maxFields: Int): String =
    s"ShardScan ${store.location} [${kernel.describe}], " +
      s"Shards: ${store.nShards}, Partitions: ${store.groups.length}, Terms: ${kernel.terms}" +
      merge.fold("")(m => s", Merge: $m")

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |Output [${output.size}]: ${output.mkString("[", ", ", "]")}
       |Location: ${store.location}
       |Kernel: [${kernel.describe}]
       |Shards: ${store.nShards}, Partitions: ${store.groups.length}
       |Terms: ${kernel.terms}
       |""".stripMargin + merge.fold("")(m => s"Merge: $m\n")
}

/** Plans [[ShardScan]] and [[SlotRows]], and the final step of a solo
  * query over a one-slot scan as that scan's [[ShardScan.Merge]];
  * registered once per session. It runs before Spark's own strategies, so
  * an ordered limit it takes never becomes a TakeOrderedAndProject.
  */
private[search] object ShardScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) => merged(child).toList
    case ShardScan(kernel, store, output) => ShardScanExec(kernel, store, output, None) :: Nil
    case SlotRows(qis, child) =>
      FilterExec(ArrayContains(Literal.create(qis.toArray, ArrayType(IntegerType, false)),
        child.output.head), planLater(child)) :: Nil
    case _ => merged(plan).toList
  }

  /** A [[ShardScan]] under attribute-only projections. */
  private object Scan {
    def unapply(plan: LogicalPlan): Option[ShardScan] = plan match {
      case s: ShardScan => Some(s)
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => unapply(child)
      case _ => None
    }
  }

  /** The scan exec that merges `plan` itself, when `plan` is a global
    * count of a non-null literal over a one-slot unranked Match scan, or
    * an ordered limit over a one-slot bounded scan that keeps at least k
    * rows per shard.
    */
  private def merged(plan: LogicalPlan): Option[SparkPlan] = plan match {
    case Aggregate(groups, Seq(a @ Alias(AggregateExpression(Count(Seq(Literal(v, _))), _,
        false, None, _), _)), Scan(s), _) if groups.isEmpty && v != null =>
      s.kernel match {
        case p: ShardKernel.Primary if p.specs.length == 1 && p.specs(0).mode == 0 &&
            !p.specs(0).rank =>
          Some(ShardScanExec(p.copy(specs = Array(p.specs(0).copy(mode = 3))), s.store,
            s.output, Some(ShardScan.Merge.Counted(Seq(a.toAttribute)))))
        case _ => None
      }
    case Limit(IntegerLiteral(k), Project(list, Sort(order, true, Scan(s), _))) =>
      topK(s, k, order, list)
    case Limit(IntegerLiteral(k), sort @ Sort(order, true, Scan(s), _)) =>
      topK(s, k, order, sort.output)
    case _ => None
  }

  private def topK(s: ShardScan, k: Int, order: Seq[SortOrder],
                   project: Seq[NamedExpression]): Option[SparkPlan] = {
    val bound = s.kernel.specs match {
      case Array(f) if f.mode == 1 || f.mode == 2 || f.mode == 4 => f.k
      case _ => 0
    }
    if (bound == 0 || k > bound) None
    else Some(ShardScanExec(s.kernel, s.store, s.output,
      Some(ShardScan.Merge.TopK(k, order, project))))
  }

  def register(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this)) exp.extraStrategies = this +: exp.extraStrategies
  }
}
