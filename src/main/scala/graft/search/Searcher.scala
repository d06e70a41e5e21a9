package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{DocRow, IndexMeta, PostingRow, SegmentCatalog}
import graft.core.PostingCursor
import graft.query._

/** Query execution over a built index.
  *
  * Spark plan shape (the RUM scan pipeline, re-expressed):
  *   1. term lookup in the Searcher's [[ShardStore]]: each layout's shards
  *      are decoded once, by the first query that reads the layout, into
  *      cached records whose chunk rows are grouped by sorted term; a
  *      query binary-searches its own keys there — the entry-tree descent
  *      to buffered posting pages (reference: src/rumget.c:536-696
  *      startScanEntry) — and opens no parquet file.
  *   2. per-shard typed merge kernel, run in place by the task that holds
  *      the shard's record ([[ShardScan]]: whole shards per task, no
  *      Exchange below the kernel) — the k-way posting merge + consistency
  *      check (src/rumget.c:1426-1568 scanGetItemRegular) with prefix expansion
  *      as positional union (src/rumget.c:1124-1296 entryGetItem +
  *      rum_ts_join_pos). Only kernel output leaves the task.
  *   3. scores computed inside the kernel from payloads (positions) —
  *      index-side ordering, the defining RUM capability (README.md:80-136)
  *   4. per-shard top-k heap → global top-k. Every solo query, ordered
  *      scans included, has ONE serving path, [[msearchPlan]]: a one-slot
  *      plan projected to its own schema (the slot rows carry the payload
  *      addon up to that projection). A lone bounded (top-k) slot, and a
  *      global count over a lone Match slot, end in their own scan: the
  *      driver merges the per-shard heaps or sums the per-shard count
  *      partials, so the query is one job of one stage ([[ShardScan]]).
  *      Several bounded slots of one layout share a row_number window per
  *      slot that keeps each slot's k best.
  */
final class Searcher(spark: SparkSession, indexDir: String,
                     maxCachedPlans: Int = Searcher.MaxCachedPlans) {
  import spark.implicits._

  val meta: IndexMeta = SegmentCatalog.load(indexDir)
    .getOrElse(throw new IllegalStateException(s"no manifest in $indexDir"))
  // refuse down-versioned layouts up front with a "rebuild required" error
  // instead of an AnalysisException mid-query on a missing column
  graft.build.IndexBuilder.requireFormat(meta)

  // lazy vals: file listing + schema inference happen once per Searcher,
  // not once per query — repeated InMemoryFileIndex listings serialize
  // concurrent queries on the driver
  // All reads go through the manifest's data-file listing (snapshot
  // isolation: only committed files are visible) with explicit schemas so
  // zero-file layouts (buildempty) stay readable.
  private lazy val postings: Dataset[PostingRow] =
    graft.build.IndexBuilder.readDataset(spark, indexDir, meta, "postings").as[PostingRow]

  private lazy val docs: Dataset[DocRow] =
    graft.build.IndexBuilder.readDataset(spark, indexDir, meta, "docs")
      .select(col("shard"), col("docId"), col("len"), col("addon"), col("uniq"))
      .as[DocRow]

  private lazy val statsDF: DataFrame =
    graft.build.IndexBuilder.readDataset(spark, indexDir, meta, "stats")

  /** Compiled-plan cache (prepared statements). A Searcher is pinned to one
    * immutable snapshot — reads go through the manifest's committed file
    * listing — so the Dataset a public query method returns is a pure
    * function of (method, args). Repeating a query therefore reuses the
    * analyzed/optimized/physical plan (Dataset.queryExecution is computed
    * once per instance) instead of paying Catalyst again. This is the
    * fixed per-query driver cost that does NOT parallelize with added
    * cores (BENCH/BASELINE.md 2→8 analysis); execution itself still runs
    * fresh per action. Bounded by
    * access-ordered LRU at `maxCachedPlans` shapes: a prepared workload
    * that churns shapes keeps its hot set (evicting the coldest plan)
    * instead of degrading to permanent re-planning.
    */
  private val planCache: java.util.Map[String, DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, DataFrame](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, DataFrame]): Boolean =
          size() > maxCachedPlans
      })

  private def cached(key: String)(make: => DataFrame): DataFrame = {
    // get/putIfAbsent, NOT computeIfAbsent: plan builders nest (count's agg
    // plan is built over the cached matchingDocs plan) and holding the map
    // lock across `make` would deadlock/re-enter. A racing duplicate build
    // is harmless — first one in wins. get() also refreshes LRU recency.
    val hit = planCache.get(key)
    if (hit != null) hit
    else {
      val df = make
      val prev = planCache.putIfAbsent(key, df)
      if (prev != null) prev else df
    }
  }

  /** One dataset's committed files by shard, statted once per Searcher
    * (the snapshot is immutable).
    */
  private def shardFiles(kind: String): (String, Map[Int, Seq[ShardStore.File]]) = {
    val (dir, rel) = graft.build.IndexBuilder.dataFiles(indexDir, meta, kind)
    val conf = spark.sessionState.newHadoopConf()
    val byShard = rel.map { f =>
      val shard = Searcher.ShardDir.findFirstMatchIn(f).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(s"$dir/$f: not under a shard=N directory"))
      require(shard < meta.nShards, s"$dir/$f: shard $shard of ${meta.nShards}")
      val path = new org.apache.hadoop.fs.Path(s"$dir/$f")
      val st = path.getFileSystem(conf).getFileStatus(path)
      shard -> ShardStore.File(st.getPath.toString, st.getLen, st.getModificationTime)
    }.groupBy(_._1).map { case (s, fs) => s -> fs.map(_._2).sortBy(_.path) }
    (dir, byShard)
  }

  /** A layout's [[ShardStore]]: whole shards packed into min(p, nShards)
    * partitions, p = the shuffle width (the build's
    * `IndexBuilder.shardRouting` rule).
    */
  private def openStore(kind: String, docs: Map[Int, Seq[ShardStore.File]]): ShardStore = {
    val (dir, files) = shardFiles(kind)
    val nPart = math.min(spark.sessionState.conf.numShufflePartitions, meta.nShards)
    new ShardStore(spark, dir, (0 until nPart).map(i => i until meta.nShards by nPart), files, docs)
  }
  private lazy val postingStore = openStore("postings", shardFiles("docs")._2)
  /** (addon, docId)-ordered posting copy (order_by_attach layout). */
  private lazy val altStore = openStore("alt", Map.empty)

  /** `kernel` run shard-locally over its layout's store. */
  private def shardScan(kernel: ShardKernel): DataFrame =
    ShardScan.frame(spark, kernel, if (kernel.layout == "alt") altStore else postingStore)

  /** Each branch's rows of one kernel scan, `branches` = the slots of each
    * branch. One live branch reads the scan itself. Several select their
    * slots behind ONE shared exchange of kernel output, which Spark runs
    * once and reuses, so a batch reads each layout once.
    */
  private def branchRows(scan: DataFrame, branches: Seq[Seq[Int]]): Seq[DataFrame] =
    if (branches.count(_.nonEmpty) <= 1) branches.map(_ => scan)
    else {
      val shared = scan.repartition(col("qi"))
      branches.map(qis => ShardScan.slotRows(shared, qis))
    }

  /** identity for text keys; FNV-1a hex for hash-keyed indexes
    * (rum_extract_tsquery_hash, src/rum_ts_utils.c:757-787). On a
    * multi-column index bare terms would silently miss the field-prefixed
    * key space, so they are rejected: qualify with
    * IndexBuilder.fieldKey(field, term).
    */
  private def keyOf(term: String): String = {
    require(meta.fields.isEmpty || term.contains(graft.build.IndexBuilder.FieldSep),
      s"multi-column index (fields=${meta.fields}): qualify '$term' with " +
        "IndexBuilder.fieldKey(field, term)")
    if (meta.keyKind == "hash") graft.core.HashKeys.hex(term) else term
  }

  private def compileTree(q: TsQuery): CompiledQuery = {
    if (meta.keyKind == "hash") {
      // mirror the reference: hash keys cannot serve range/partial match
      // ("Compare with prefix expressions isn't supported",
      // expected/rum_hash.out:310)
      require(TsQuery.operands(q).forall(!_.prefix),
        "prefix search isn't supported with hash keys")
      CompiledQuery.compile(TsQuery.mapTerms(q, graft.core.HashKeys.hex))
    } else CompiledQuery.compile(q)
  }

  def compile(queryStr: String): CompiledQuery = {
    require(meta.fields.isEmpty,
      s"multi-column index (fields=${meta.fields}): use compileMulti/countMulti")
    compileTree(TsQueryParser.parse(queryStr))
  }

  /** Multi-column query: one tsquery per field, ANDed into a single
    * compiled tree over field-prefixed keys — one kernel pass intersects
    * across fields (reference: attnum-prefixed entry keys,
    * src/rumutil.c:266-288; multicolumn tests sql/orderby.sql:89-106).
    */
  def compileMulti(fieldQueries: Seq[(String, String)]): CompiledQuery = {
    val known = meta.fields.split(",").toSet
    require(meta.fields.nonEmpty, "not a multi-column index")
    val trees = fieldQueries.map { case (f, q) =>
      require(known.contains(f), s"unknown field '$f' (have ${meta.fields})")
      TsQuery.mapTerms(TsQueryParser.parse(q),
        t => graft.build.IndexBuilder.fieldKey(f, t))
    }
    compileTree(trees.reduce(TsQuery.And(_, _)))
  }

  def countMulti(fieldQueries: Seq[(String, String)]): Long =
    runCount("countM" + Searcher.key(fieldQueries.flatMap(p => Seq(p._1, p._2)): _*),
      matchingDocsMulti(fieldQueries))

  def matchingDocsMulti(fieldQueries: Seq[(String, String)]): DataFrame =
    cached("matchM" + Searcher.key(fieldQueries.flatMap(p => Seq(p._1, p._2)): _*)) {
      oneSlot(Searcher.MsearchSpec.MatchFields(fieldQueries), col("docId"))
    }

  /** docIds matching the query (the bitmap-scan sink, rumgetbitmap —
    * src/rumget.c:2105-2145). Unordered.
    */
  def matchingDocs(queryStr: String): DataFrame =
    cached("match" + Searcher.key(queryStr)) {
      oneSlot(Searcher.MsearchSpec.Match(queryStr), col("docId"))
    }

  def count(queryStr: String): Long =
    runCount("count" + Searcher.key(queryStr), matchingDocs(queryStr))

  /** Cached count: Dataset.count() would plan a fresh Aggregate per call,
    * so the aggregate itself is part of the cached plan. Over a one-slot
    * Match plan the count is the scan's own merge: the kernel counts each
    * shard and the driver sums the partials, in one job of one stage.
    */
  private def runCount(key: String, base: => DataFrame): Long =
    cached(key)(base.agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")))
      .collect()(0).getLong(0)

  /** Approximate bounded result set — the fuzzy_search_limit path
    * (reference: rumget.c:50-76 dropItem thins the bitmap with coin flips
    * scaled by predictNumberResult so ~limit matches survive). Re-expressed
    * deterministically: when the df-based prediction exceeds `limit`, keep
    * a match iff md5(docId) lands under limit/predicted — the same 60-bit
    * md5-prefix hash the SQL oracle can compute, so sampling is
    * reproducible across engines AND executors (no RNG state).
    */
  def matchingDocsSampled(queryStr: String, limit: Long): DataFrame =
    cached("sampled" + Searcher.key(queryStr, limit.toString)) {
      val full = matchingDocs(queryStr)
      val predicted = predictResults(compile(queryStr))
      if (predicted <= limit) full
      else {
        val keep = limit.toDouble / predicted
        val h = conv(substring(md5(col("docId").cast("string")), 1, 15), 16, 10)
          .cast("long")
        full.where(pmod(h, lit(1000000L)) < math.floor(keep * 1e6).toLong)
      }
    }

  /** df-based result-size prediction (predictNumberResult,
    * src/rumdatapage.c:450): AND-ish queries bound by the rarest required
    * key's df; pure OR by the sum of positive keys' dfs; capped at numDocs.
    */
  private def predictResults(cq: CompiledQuery): Long = {
    val req = SearchKernel.requiredKeys(cq)
    val idx = if (req.nonEmpty) req else SearchKernel.positiveKeys(cq)
    if (idx.isEmpty) return meta.numDocs
    val terms = idx.map(cq.keys(_)).filterNot(_.prefix).map(_.term)
    if (terms.isEmpty) return meta.numDocs
    val dfs = terms.distinct.flatMap(termStatsMap.get).map(_._1)
    val est =
      if (req.nonEmpty) (if (dfs.isEmpty) 0L else dfs.min)
      else dfs.sum
    math.min(est, meta.numDocs)
  }

  /** Matching docs with their attached-column value (docId, addon) — the
    * addon rides in the posting payload so no corpus join happens
    * (RUM addon ops, README.md:158-196): a one-slot Match plan projected
    * to (docId, addon).
    */
  def matchingWithAddon(queryStr: String): DataFrame =
    cached("addon" + Searcher.key(queryStr)) {
      oneSlot(Searcher.MsearchSpec.Match(queryStr), col("docId"), col("addon"))
    }

  /** True when the alt-order layout can serve this query: layout present
    * and candidates index-drivable — conjunctive queries leapfrog their
    * required keys; disjunctive queries (no required key, e.g. `a | b`)
    * merge all positive keys' ordered streams, RUM's entry-merge shape
    * (src/rumget.c:1272-1369, :2303-2327). Prefix keys included on both
    * paths — AltKernel position-unions the expansion. Full-scan queries
    * (pure negation / empty-doc matchers) run in the primary kernel.
    */
  private def altServes(cq: CompiledQuery): Boolean =
    meta.altOrder && !SearchKernel.needsFullScan(cq)

  /** `WHERE t @@ q ORDER BY addon <op> c LIMIT k` — the reference's
    * addon ordered scan (sql/orderby.sql): op "both" = `<=>` (|a-c|),
    * "left" = `<=|` (only a<=c finite), "right" = `|=>` (only a>=c).
    * Distance is in raw addon units; ties break on docId like RUM's TID
    * tie-break. One-sided misses are not returned.
    * Addons and `c` may be ANY signed long (negative scalars, epoch-
    * spanning timestamps — reference sql/int4.sql:7-19); distances beyond
    * Long.MaxValue saturate ([[AltKernel.satDist]], on both layouts).
    */
  def topKAddon(queryStr: String, c: Long, op: String, k: Int): DataFrame =
    cached("topKA" + Searcher.key(queryStr, c.toString, op, k.toString)) {
      addonSlot(Searcher.MsearchSpec.Addon(queryStr, c, op, k))
    }

  /** Multicolumn ordered scan: `WHERE f1 @@ q1 AND f2 @@ q2 ORDER BY
    * addon <op> c LIMIT k` — the reference's multicolumn test shape
    * (sql/orderby.sql:89-106: text predicate + `ORDER BY d <=> c` on one
    * index). Field-prefixed keys ride through the same alt-order kernel, so
    * early termination is preserved.
    */
  def topKAddonMulti(fieldQueries: Seq[(String, String)], c: Long, op: String,
                     k: Int): DataFrame =
    cached("topKAM" + Searcher.key(
      fieldQueries.flatMap(p => Seq(p._1, p._2)) ++ Seq(c.toString, op, k.toString): _*)) {
      addonSlot(Searcher.MsearchSpec.AddonFields(fieldQueries, c, op, k))
    }

  /** A one-slot addon top-k plan as (docId, addon, distance). */
  private def addonSlot(spec: Searcher.MsearchSpec): DataFrame =
    oneSlot(spec, col("docId"), col("addon"), col("score").as("distance"))

  /** Float-typed ordered scan in VALUE units: `WHERE t @@ q ORDER BY
    * f <op> c LIMIT k` with distance = |f - c| as an exact double, over an
    * index whose attach column was encoded with
    * [[graft.build.AddonUnits.floatOrderedBits]] (the reference's float
    * distance opclasses, btree_rum.c:249-323). Both layouts rank on the
    * double distance's own bit image ([[AltKernel.satDist]] in float
    * units); the alt layout streams in bit order (= value order per side),
    * so early termination is preserved. NaN addons sort last (the
    * canonical-NaN bit image is above +Inf's). Output (docId, value,
    * distance).
    */
  def topKAddonFloat(queryStr: String, c: Double, op: String, k: Int): DataFrame =
    cached("topKAF" + Searcher.key(queryStr,
        java.lang.Double.doubleToLongBits(c).toString, op, k.toString)) {
      oneSlot(Searcher.MsearchSpec.AddonFloat(queryStr, c, op, k), col("docId"),
        Searcher.orderedBitsToDouble(col("addon")).as("value"),
        col("score").as("distance"))
    }

  /** Float-typed range filter in VALUE units over a
    * [[graft.build.AddonUnits.floatOrderedBits]]-encoded attach:
    * bit order = value order, so the bounds map straight onto the
    * long-keyed layout's bounded stream. Output (docId, value).
    */
  def rangeAddonFloat(queryStr: String, lo: Double, hi: Double): DataFrame =
    cached("rangeAF" + Searcher.key(queryStr,
        java.lang.Double.doubleToLongBits(lo).toString,
        java.lang.Double.doubleToLongBits(hi).toString)) {
      oneSlot(Searcher.MsearchSpec.AddonRangeFloat(queryStr, lo, hi), col("docId"),
        Searcher.orderedBitsToDouble(col("addon")).as("value"))
    }

  /** Multi-key ordered scan: `WHERE t @@ q ORDER BY key1, key2, ... LIMIT k`
    * with LEXICOGRAPHIC (dist1, dist2, ..., docId) ordering — the reference
    * sorts by the whole distances[norderbys] vector then TID
    * (src/rumget.c:2218-2301 insertScanItem; src/rumsort.c:3977-4022
    * comparetup_rum), e.g. `ORDER BY t <=> q, d <=> c LIMIT k` in ONE index
    * scan. Order keys: [[Searcher.OrderKey.Rank]] = cover-density distance
    * of the match query (`t <=> q`), [[Searcher.OrderKey.Addon]] = attached-
    * column distance (`addon <op> c`). A one-slot composite top-k plan:
    * the kernel keeps each shard's k best on the FULL composite key (rank
    * and addon distances of each match, then docId), so no shard can drop
    * a row that a later tie-break would promote, and the global step
    * re-ranks the ≤ k·nShards survivors by the same keys. Addon keys follow
    * the engine's finite-only contract (one-sided misses are excluded,
    * like [[topKAddon]]).
    * Output: (docId, d0, d1, ...) distances as doubles in key order.
    */
  def topKMulti(queryStr: String, orderKeys: Seq[Searcher.OrderKey], k: Int): DataFrame =
    cached("topKMul" + Searcher.key(
      queryStr +: orderKeys.map(_.toString) :+ k.toString: _*)) {
      import Searcher.{OrderKey, SortKey}
      require(orderKeys.nonEmpty, "at least one order key")
      Searcher.requireK(k)
      val methods = orderKeys.collect { case OrderKey.Rank(m) => m }
      require(methods.distinct.size <= 1,
        "all Rank keys must share one normalization method")
      val keys = orderKeys.map {
        case OrderKey.Rank(_) => SortKey.Rank
        case OrderKey.Addon(c, op) => Searcher.requireOp(op); SortKey(rank = false, c, op)
      }
      val batch = new SlotBatch
      batch.addComposite(0, compile(queryStr), keys.toArray, k, methods.headOption.getOrElse(0))
      batch.plan().select(col("docId") +: keys.zipWithIndex.map { case (key, i) =>
        Searcher.keyCol(key).cast("double").as(s"d$i") }: _*)
    }

  /** match AND lo <= addon <= hi — served from the alt-order layout as a
    * bounded ordered stream when available (cost tracks the in-range match
    * count), else filter over all matches.
    */
  def rangeAddon(queryStr: String, lo: Long, hi: Long): DataFrame =
    cached("rangeA" + Searcher.key(queryStr, lo.toString, hi.toString)) {
      oneSlot(Searcher.MsearchSpec.AddonRange(queryStr, lo, hi), col("docId"), col("addon"))
    }

  /** Multicolumn variant of [[rangeAddon]]. */
  def rangeAddonMulti(fieldQueries: Seq[(String, String)], lo: Long, hi: Long): DataFrame =
    cached("rangeAM" + Searcher.key(
      fieldQueries.flatMap(p => Seq(p._1, p._2)) ++ Seq(lo.toString, hi.toString): _*)) {
      oneSlot(Searcher.MsearchSpec.AddonRangeFields(fieldQueries, lo, hi),
        col("docId"), col("addon"))
    }

  /** Facet histogram over the attached column (the date-histogram /
    * numeric-facet serving shape): `WHERE t @@ q AND lo <= addon <= hi
    * GROUP BY bucket`, bucket = lo + floor((addon-lo)/width)·width.
    * The kernel collapses each shard's in-range matches to at most one
    * row per bucket — the rows shipped are buckets × shards regardless of
    * match count, the same partial-shipping shape as fused counts. The
    * alt-order layout serves it as a BOUNDED ordered scan; otherwise the
    * primary kernel counts the slot's match stream (addons ride the
    * posting payload, no corpus join). Only non-empty buckets return (SQL
    * GROUP BY semantics). Returns (bucket, cnt).
    */
  def countByAddonBucket(queryStr: String, width: Long, lo: Long,
                         hi: Long): DataFrame =
    cached("facetA" + Searcher.key(queryStr, width.toString, lo.toString,
      hi.toString)) {
      facetSlot(Searcher.MsearchSpec.Facet(queryStr, width, lo, hi), col("docId"))
    }

  /** Multicolumn variant of [[countByAddonBucket]]. */
  def countByAddonBucketMulti(fieldQueries: Seq[(String, String)],
                              width: Long, lo: Long, hi: Long): DataFrame =
    cached("facetAM" + Searcher.key(
      fieldQueries.flatMap(p => Seq(p._1, p._2)) ++
        Seq(width.toString, lo.toString, hi.toString): _*)) {
      facetSlot(Searcher.MsearchSpec.FacetFields(fieldQueries, width, lo, hi),
        col("docId"))
    }

  /** A one-slot facet plan as (bucket, cnt); `bucket` decodes the slot's
    * docId column.
    */
  private def facetSlot(spec: Searcher.MsearchSpec, bucket: Column): DataFrame =
    oneSlot(spec, bucket.as("bucket"), col("score").cast("long").as("cnt"))

  /** [[countByAddonBucket]] in float VALUE units over a
    * [[graft.build.AddonUnits.floatOrderedBits]]-encoded attach: matches
    * with value in [lo, hi] count into buckets
    * lo + floor((v-lo)/width)·width, computed in IEEE double arithmetic
    * (deterministic and engine-identical, so a SQL oracle reproduces the
    * buckets bit-for-bit). Bounds must be finite; NaN addons never
    * participate (their bit image sits above +Inf's, outside the encoded
    * bound), and a -0.0 bucket start normalizes to +0.0. Both layouts
    * bucket with the same per-shard counter. Returns (bucket: double,
    * cnt: long).
    */
  def countByAddonBucketFloat(queryStr: String, width: Double, lo: Double,
                              hi: Double): DataFrame =
    cached("facetAF" + Searcher.key(queryStr,
        java.lang.Double.doubleToLongBits(width).toString,
        java.lang.Double.doubleToLongBits(lo).toString,
        java.lang.Double.doubleToLongBits(hi).toString)) {
      // the slot's docId is the bucket start's raw bit image
      facetSlot(Searcher.MsearchSpec.FacetFloat(queryStr, width, lo, hi),
        Searcher.longBitsToDouble(col("docId")))
    }

  /** Ranked search: WHERE t @@ q ORDER BY t <=> q LIMIT k — the
    * rum.sql golden shape; distance = cover-density (CoverRank), ties by
    * docId ascending (reference tie-break on TID, src/rumsort.c:4003-4021).
    * With matchOnly=false behaves like order-only scan over all docs
    * (EVERYTHING mode): non-matching docs carry infinite distance.
    * `method` = rank-normalization flags (CoverRank.Norm*). UNIQ flags
    * divide by the doc's distinct-lexeme count, which lives in the docs
    * table (the "heap" — exactly where the reference's rum_ts_distance
    * reads txt->size from), so those slots full-scan the docs rows. Every
    * variant is a one-slot cover plan.
    */
  def topKCover(queryStr: String, k: Int, matchOnly: Boolean = true,
                method: Int = 0): DataFrame =
    cached("topKC" + Searcher.key(queryStr, k.toString, matchOnly.toString,
      method.toString)) {
      if (matchOnly) coverSlot(Searcher.MsearchSpec.Cover(queryStr, k, method))
      else everyDocCover(compile(queryStr), k, method, null, null)
    }

  /** A one-slot cover plan as (docId, distance). */
  private def coverSlot(spec: Searcher.MsearchSpec): DataFrame =
    oneSlot(spec, col("docId"), col("score").as("distance"))

  /** The one-slot order-only cover plan (matchOnly = false) as (docId,
    * distance): every doc is a candidate, non-matching ones included.
    */
  private def everyDocCover(cq: CompiledQuery, k: Int, method: Int,
                            scoreCq: CompiledQuery, scoreMap: Array[Int]): DataFrame = {
    Searcher.requireK(k)
    val batch = new SlotBatch
    batch.addCover(0, cq, k, method, scoreCq, scoreMap, matchOnly = false)
    batch.plan().select(col("docId"), col("score").as("distance"))
  }

  /** Multicolumn ranked scan: match `rankQuery` on `rankField` AND every
    * `filters` predicate on its field — one kernel pass over field-prefixed
    * keys — but rank by the cover-density of `rankQuery` ALONE (the other
    * fields are boolean predicates, not rank inputs), mirroring the
    * reference's multicolumn ordered scans where `ORDER BY t <=> q` ranks
    * one column while siblings filter (sql/orderby.sql:89-106;
    * attnum-prefixed keys src/rumutil.c:266-288).
    */
  def topKCoverMulti(rankField: String, rankQuery: String,
                     filters: Seq[(String, String)], k: Int,
                     matchOnly: Boolean = true, method: Int = 0): DataFrame =
    cached("topKCM" + Searcher.key(
      Seq(rankField, rankQuery) ++ filters.flatMap(p => Seq(p._1, p._2)) ++
        Seq(k.toString, matchOnly.toString, method.toString): _*)) {
      if (matchOnly)
        coverSlot(Searcher.MsearchSpec.CoverFields(rankField, rankQuery, filters, k, method))
      else {
        val (fullCq, scoreCq, scoreMap) = compileCoverMulti(rankField, rankQuery, filters)
        everyDocCover(fullCq, k, method, scoreCq, scoreMap)
      }
    }

  /** (fullCq, scoreCq, scoreMap) for a multicolumn ranked scan: match the
    * AND of every field's tsquery, rank by `rankQuery`'s cover-density
    * alone; scoreCq key j reads positions from full-query key scoreMap(j)
    * (dedup is per (term, prefix) on both sides, so the lookup is total).
    */
  private def compileCoverMulti(rankField: String, rankQuery: String,
      filters: Seq[(String, String)]): (CompiledQuery, CompiledQuery, Array[Int]) = {
    require(meta.fields.nonEmpty, "not a multi-column index")
    val known = meta.fields.split(",").toSet
    (rankField +: filters.map(_._1)).foreach(f =>
      require(known.contains(f), s"unknown field '$f' (have ${meta.fields})"))
    val rankTree = TsQuery.mapTerms(TsQueryParser.parse(rankQuery),
      t => graft.build.IndexBuilder.fieldKey(rankField, t))
    val filterTrees = filters.map { case (f, q) =>
      TsQuery.mapTerms(TsQueryParser.parse(q),
        t => graft.build.IndexBuilder.fieldKey(f, t))
    }
    val fullCq = compileTree((rankTree +: filterTrees).reduce(TsQuery.And(_, _)))
    val scoreCq = compileTree(rankTree)
    val scoreMap = scoreCq.keys.map(sk =>
      fullCq.keys.indexWhere(fk => fk.term == sk.term && fk.prefix == sk.prefix))
    require(scoreMap.forall(_ >= 0), "rank keys must appear in the full query")
    (fullCq, scoreCq, scoreMap)
  }

  /** Field-scoped BM25 over a multicolumn index: terms resolve to the
    * field's prefixed key space, so df/maxTf stats and doc lengths are the
    * field's own (posting payloads carry per-field token counts);
    * `avgLen` stays the index-global average (documented engine behavior —
    * the oracle mirrors it).
    */
  def topKBm25Fields(field: String, terms: Seq[String], k: Int): DataFrame = {
    require(meta.fields.split(",").contains(field),
      s"unknown field '$field' (have ${meta.fields})")
    topKBm25(terms.map(t => graft.build.IndexBuilder.fieldKey(field, t)), k)
  }

  /** Classic BM25 disjunctive top-k over bag-of-terms with WAND pruning
    * (the fast-scan analogue, src/rumget.c:1900-2017). Scores use true tf
    * and doc length carried in the posting payload (addon-column pattern).
    */
  def topKBm25(terms: Seq[String], k: Int): DataFrame =
    cached("bm25" + Searcher.key(terms :+ k.toString: _*)) {
      oneSlot(Searcher.MsearchSpec.Bm25(terms, k), col("docId"), col("score"))
    }

  /** Per-term (df, maxTf) of the whole snapshot, collected by the first
    * query that needs one (one job per Searcher), so no later plan pays a
    * driver-side stats job. Its size is the vocabulary, smaller than the
    * shard stores the same Searcher holds.
    */
  private lazy val termStatsMap: Map[String, (Long, Int)] =
    statsDF.select("term", "df", "maxTf").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap

  /** stats for already-keyOf'd terms; absent terms are dropped. */
  private def statsFor(keys: Seq[String]): Map[String, (Long, Int)] =
    keys.flatMap(t => termStatsMap.get(t).filter(_._1 > 0L).map(t -> _)).toMap

  /** Zero-row frame with (qi, cols...) — the empty-msearch schema shared
    * by every batch API's empty-input guard.
    */
  private def emptyBatch(cols: (String, String)*): DataFrame =
    spark.range(0).select(
      col("id").cast("int").as("qi") +: cols.map { case (n, t) =>
        col("id").cast(t).as(n) }: _*)

  /** Execute several prepared query DataFrames as ONE Spark job (the
    * msearch/multi-query pattern): each result collapses to its row count
    * and the branches union into a single action, so the per-job driver
    * dispatch — serial at ANY cluster size — amortizes across the batch.
    * This is how a high-QPS serving tier keeps query throughput scaling
    * with executors when individual queries are millisecond-scale. Returns
    * (branch index, row count) per input. The union plan is cached under
    * `key` (caller owns key uniqueness per Searcher instance).
    */
  def batchRowCounts(key: String, dfs: => Seq[DataFrame]): Array[(Int, Long)] =
    cached("batch" + Searcher.key(key)) {
      val branches = dfs
      if (branches.isEmpty) // empty msearch buffer: no job at all
        emptyBatch("cnt" -> "long")
      else branches.zipWithIndex.map { case (d, i) =>
        d.agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
          .select(lit(i).as("qi"), col("cnt"))
      }.reduce(_.union(_))
    }.collect().map(r => (r.getInt(0), r.getLong(1)))

  /** Match counts for a batch of tsquery strings in one fused scan
    * ([[msearchCounts]]).
    */
  def countBatch(queryStrs: Seq[String]): Map[String, Long] = {
    val distinct = queryStrs.distinct
    msearchCounts(distinct).collect()
      .map(r => distinct(r.getInt(0)) -> r.getLong(1)).toMap
  }

  /** Batched ranked retrieval: a batch of BM25 (terms, k) queries as ONE
    * fused [[msearch]]. Returns (qi, docId, score) — qi indexes into the
    * input batch.
    */
  def topKBm25Batch(queries: Seq[(Seq[String], Int)]): DataFrame =
    msearch(queries.map { case (ts, k) => Searcher.MsearchSpec.Bm25(ts, k) })

  /** FUSED multi-search: evaluate a heterogeneous batch of queries in ONE
    * shard-local pass per layout (the shared-scan msearch a serving tier
    * runs when individual queries are millisecond-scale). Each task walks
    * whole shards of the layout's store ([[ShardScan]]), and every spec's
    * kernel (boolean match / WAND BM25 / cover-rank, all with their usual
    * per-shard pruning) looks up exactly its own keys in each shard's
    * record — no Exchange below the kernel, and sibling specs' terms are
    * invisible to it.
    * Global per-spec top-k then runs over ONLY the shard-pruned rows of
    * bounded specs (≤ k·nShards rows each): per layout, one bounded slot
    * takes an ordered limit, which a lone slot's scan merges on the
    * driver (no shuffle, no sort operator); several share a row_number
    * window per qi. When bounded, match and count
    * branches read one layout, they share ONE exchange of kernel output
    * that Spark executes once, and match specs never pass through a sort.
    * Every solo query, ordered scans and [[topKMulti]] included, is a
    * one-slot batch of this plan. Per-batch driver cost is one plan over
    * one subtree instead of N — the serial component that would otherwise
    * bound msearch throughput at any cluster size.
    * Returns (qi, docId, score): score = 0.0 for Match and AddonRange,
    * BM25 score for Bm25 (top-k, higher better), cover distance for Cover
    * (top-k, lower better), exact saturating addon distance for Addon
    * (top-k, lower better), exact double value-units distance for
    * AddonFloat. Ordered-scan slots (Addon/AddonRange/Facet and their
    * float value-units twins) run over the alt-order layout's OWN shared
    * read when it can drive their candidates, else as slots of the primary
    * pass over their match streams — a heterogeneous batch reads each
    * layout at most once. A slot whose candidates are every doc (pure
    * negations and other queries that match the empty doc, UNIQ/LOGUNIQ
    * rank norms) is a full-scan slot of the same primary pass, which
    * walks each shard's docs rows. Void specs contribute no rows.
    */
  def msearch(specs: Seq[Searcher.MsearchSpec]): DataFrame =
    cached("msearch" + specs.map(Searcher.specKey).mkString(""))(msearchPlan(specs))

  /** Uncached twin of [[msearch]] — ad-hoc paths that must pay fresh
    * planning (and benchmarks that must measure it) build a new plan here.
    */
  def msearchPlan(specs: Seq[Searcher.MsearchSpec]): DataFrame =
    slotPlan(specs).select("qi", "docId", "score")

  /** [[msearchPlan]] with the slot rows' payload addon kept:
    * (qi, docId, score, addon). Solo queries project their own schema
    * from it; only the public batch schema drops the addon.
    */
  private def slotPlan(specs: Seq[Searcher.MsearchSpec]): DataFrame = {
    // every spec is checked before any slot plans: a Searcher's first
    // BM25 slot collects the term stats in a job
    specs.foreach(Searcher.requireSpec)
    val batch = new SlotBatch
    specs.zipWithIndex.foreach { case (spec, qi) => batch.add(qi, spec) }
    batch.plan()
  }

  /** A one-slot plan projected to a solo query's schema. */
  private def oneSlot(spec: Searcher.MsearchSpec, cols: Column*): DataFrame =
    slotPlan(Seq(spec)).select(cols: _*)

  /** The compiled slots of one plan, per layout. */
  private final class SlotBatch {
    private val fused = scala.collection.mutable.ArrayBuffer.empty[Searcher.FusedSpec]
    private val altFused = scala.collection.mutable.ArrayBuffer.empty[Searcher.FusedSpec]
    // count slots: every qi here gets a spine row (even void/zero-match)
    private val countQis = scala.collection.mutable.ArrayBuffer.empty[Int]

    /** A primary-layout slot, unless a void query leaves it nothing to
      * match. Its candidates are every doc of the shard when the postings
      * alone cannot drive them, or when a UNIQ/LOGUNIQ rank norm needs the
      * doc's distinct-lexeme count from the docs rows.
      */
    private def addPrimary(f: Searcher.FusedSpec): Unit =
      if (!f.matchOnly || !SearchKernel.isVoid(f.cq)) {
        val uniq = f.rank && (f.method & (CoverRank.NormUniq | CoverRank.NormLogUniq)) != 0
        fused += f.copy(fullScan = !f.matchOnly || uniq || SearchKernel.needsFullScan(f.cq))
      }

    /** An ordered-scan slot (addon top-k, addon range, facet): the alt
      * kernel serves it when the alt layout can drive its candidates, else
      * the primary kernel runs the same mode over the slot's match stream.
      */
    private def addOrdered(f: Searcher.FusedSpec): Unit =
      if (altServes(f.cq)) altFused += f else addPrimary(f)

    def addMatch(qi: Int, cq: CompiledQuery): Unit = addPrimary(Searcher.FusedSpec(qi, 0, cq))
    def addCover(qi: Int, cq: CompiledQuery, k: Int, method: Int, scoreCq: CompiledQuery,
                 scoreMap: Array[Int], matchOnly: Boolean = true): Unit =
      addPrimary(Searcher.FusedSpec(qi, 1, cq, k, scoreCq = scoreCq, scoreMap = scoreMap,
        method = method, rank = true, matchOnly = matchOnly))
    /** A composite top-k slot ordered by `keys`, then docId. */
    def addComposite(qi: Int, cq: CompiledQuery, keys: Array[Searcher.SortKey], k: Int,
                     method: Int): Unit =
      addPrimary(Searcher.FusedSpec(qi, 4, cq, k, method = method, rank = keys.exists(_.rank),
        order = keys))
    private def addCount(qi: Int, cq: CompiledQuery): Unit = {
      countQis += qi // a void query counts 0 via the spine
      addPrimary(Searcher.FusedSpec(qi, 3, cq))
    }
    private def addAddon(qi: Int, cq: CompiledQuery, key: Searcher.SortKey, k: Int): Unit =
      addOrdered(Searcher.FusedSpec(qi, 4, cq, k, order = Array(key)))
    private def addRange(qi: Int, cq: CompiledQuery, lo: Long, hi: Long): Unit =
      addOrdered(Searcher.FusedSpec(qi, 5, cq, lo = lo, hi = hi))
    private def addFacet(qi: Int, cq: CompiledQuery, width: Long, lo: Long, hi: Long,
                         floatUnits: Boolean): Unit =
      addOrdered(Searcher.FusedSpec(qi, 6, cq, width = width, lo = lo, hi = hi,
        floatUnits = floatUnits))
    private def addBm25(qi: Int, keys: Seq[String], k: Int): Unit = {
      val distinct = keys.distinct
      val stats = statsFor(distinct)
      val present = distinct.filter(stats.contains).toArray
      if (present.nonEmpty) {
        val dfArr = present.map(t => stats(t)._1)
        val ubArr = present.indices.map(i =>
          graft.query.Bm25.maxTermScore(stats(present(i))._2, dfArr(i),
            meta.avgLen, meta.numDocs)).toArray
        fused += Searcher.FusedSpec(qi, 2, k = k, terms = present, dfs = dfArr, ubs = ubArr)
      }
    }

    def add(qi: Int, spec: Searcher.MsearchSpec): Unit = {
      import Searcher.MsearchSpec._
      import Searcher.SortKey
      import graft.build.AddonUnits.floatOrderedBits
      spec match {
        case Match(q) => addMatch(qi, compile(q))
        case Cover(q, k, method) => addCover(qi, compile(q), k, method, null, null)
        case Order2(q, c, op, k, method) =>
          addComposite(qi, compile(q), Array(SortKey.Rank, SortKey(rank = false, c, op)), k,
            method)
        case Count(q) => addCount(qi, compile(q))
        case CountFields(fq) => addCount(qi, compileMulti(fq))
        case Bm25(terms, k) => addBm25(qi, terms.map(keyOf), k)
        // field-scoped variants over a multi-column index: the same fused
        // pass — field-prefixed keys are just keys to the kernel
        case MatchFields(fq) => addMatch(qi, compileMulti(fq))
        case CoverFields(rf, rq, filters, k, method) =>
          val (fullCq, scoreCq, scoreMap) = compileCoverMulti(rf, rq, filters)
          addCover(qi, fullCq, k, method, scoreCq, scoreMap)
        case Bm25Fields(field, terms, k) =>
          require(meta.fields.split(",").contains(field),
            s"unknown field '$field' (have ${meta.fields})")
          addBm25(qi,
            terms.map(t => keyOf(graft.build.IndexBuilder.fieldKey(field, t))), k)
        // ordered-scan slots: the alt-order layout's OWN shared scan when it
        // can serve them, else slots of the primary pass
        case Addon(q, c, op, k) => addAddon(qi, compile(q), SortKey(rank = false, c, op), k)
        case AddonRange(q, lo, hi) => addRange(qi, compile(q), lo, hi)
        case AddonFields(fq, c, op, k) =>
          addAddon(qi, compileMulti(fq), SortKey(rank = false, c, op), k)
        case AddonRangeFields(fq, lo, hi) => addRange(qi, compileMulti(fq), lo, hi)
        // float value-units slots: bounds and constants as their ordered
        // bits (bit order = value order); floatUnits carries through to the
        // kernel's distance and bucket functions
        case AddonFloat(q, c, op, k) =>
          addAddon(qi, compile(q), SortKey(rank = false, floatOrderedBits(c), op, floatUnits = true),
            k)
        case AddonRangeFloat(q, lo, hi) =>
          addRange(qi, compile(q), floatOrderedBits(lo), floatOrderedBits(hi))
        case Facet(q, w, lo, hi) => addFacet(qi, compile(q), w, lo, hi, floatUnits = false)
        case FacetFields(fq, w, lo, hi) =>
          addFacet(qi, compileMulti(fq), w, lo, hi, floatUnits = false)
        case FacetFloat(q, w, lo, hi) => addFacet(qi, compile(q), floatOrderedBits(w),
          floatOrderedBits(lo), floatOrderedBits(hi), floatUnits = true)
        // the placeholder key is an ordinary key to the kernel: these
        // slots ride the shared scan like any single-term query
        case MatchEmpty(f) => addMatch(qi, emptyCompiled(f))
        case CountEmpty(f) => addCount(qi, emptyCompiled(f))
      }
    }

    /** One layout's kernel pass over `fs` (empty: no read), split into
      * (bounded top-k rows and match/range rows, count partials, facet
      * partials). Its branches share ONE exchange of kernel output.
      */
    private def layoutParts(fs: Array[Searcher.FusedSpec],
                            kernel: TermSet => ShardKernel)
        : (Seq[DataFrame], Option[DataFrame], Option[DataFrame]) =
      if (fs.isEmpty) (Nil, None, None)
      else {
        // each slot's kernel looks up exactly its own keys, so sibling
        // slots' terms are invisible to it; the union of the slots' terms
        // names the pass in the plan
        val terms = fs.map(f =>
          if (f.mode == 2) TermSet(f.terms.toSeq, Nil) else TermSet.of(f.cq)).reduce(_ ++ _)
        val bounded = fs.filter(f => f.mode == 1 || f.mode == 2 || f.mode == 4)
        val unbounded = fs.filter(f => f.mode == 0 || f.mode == 5)
        val counts = fs.filter(_.mode == 3)
        val facets = fs.filter(_.mode == 6)
        val Seq(boundedRows, unboundedRows, countRows, facetRows) = branchRows(
          shardScan(kernel(terms)),
          Seq(bounded, unbounded, counts, facets).map(_.map(_.qi).toSeq))
        // bounded specs: per-shard heaps already pruned to ≤ k·nShards rows
        // each, so the global top-k touches only those; match specs stream
        // through their own branch, never sorted. Only composite slots read
        // their addon (a lone one ranks by it, addon top-k returns it), so
        // cover and BM25 rows leave it out of the top-k
        val boundedPart =
          if (bounded.isEmpty) None
          else {
            val composite = bounded.exists(_.mode == 4)
            Some(Searcher.topKTail(if (composite) boundedRows else boundedRows.drop("addon"),
              bounded.map(f => (f.qi, f.k)).toSeq, Searcher.topKOrder(bounded.toSeq),
              Seq(col("qi"), col("docId"), col("score"),
                if (composite) col("addon") else lit(0L).as("addon"))))
          }
        val unboundedPart =
          if (unbounded.isEmpty) None
          else Some(unboundedRows.select("qi", "docId", "score", "addon"))
        val countPart =
          if (counts.isEmpty) None
          else Some(countRows.select(col("qi"), col("docId").as("partial")))
        val facetPart =
          if (facets.isEmpty) None
          else Some(facetRows.select("qi", "docId", "sort2"))
        ((boundedPart ++ unboundedPart).toSeq, countPart, facetPart)
      }

    /** The batch's plan: (qi, docId, score, addon). */
    def plan(): DataFrame = {
      val (rows, countKernelPart, facetPart) = layoutParts(fused.toArray,
        ShardKernel.Primary(fused.toArray, meta.numDocs, meta.avgLen, _))
      // ordered-scan slots the alt layout serves: ONE alt-layout read for
      // the whole batch, mirroring the primary pass; per-shard ShardCells
      // merges each term's runs once across every slot that touches it
      val (altRows, _, altFacetPart) = layoutParts(altFused.toArray,
        ShardKernel.Alt(altFused.toArray, _))
      // count slots: the per-shard partials, summed with the spine
      val countsPart: Option[DataFrame] =
        if (countQis.isEmpty) None
        else {
          val spine = countQis.toSeq.toDF("qi").select(col("qi"), lit(0L).as("partial"))
          val union = (Seq(spine) ++ countKernelPart.toSeq).reduce(_ union _)
          Some(union.groupBy("qi").agg(sum("partial").as("cnt"))
            .select(col("qi"), col("cnt").as("docId"),
              col("cnt").cast("double").as("score"), lit(0L).as("addon")))
        }
      // facet slots of both layouts: one final sum over the per-shard
      // bucket partials (rows shipped = buckets × shards per slot, never
      // the matches)
      val facetsPart = (facetPart ++ altFacetPart).reduceOption(_ union _).map(
        _.groupBy("qi", "docId").agg(sum("sort2").as("cnt"))
          .select(col("qi"), col("docId"), col("cnt").cast("double").as("score"),
            lit(0L).as("addon")))
      (rows ++ countsPart ++ altRows ++ facetsPart)
        .reduceOption(_ union _)
        .getOrElse(emptyBatch("docId" -> "long", "score" -> "double", "addon" -> "long"))
    }
  }

  /** Fused count-serving: match counts for a batch of tsquery strings in
    * ONE shard-local read whose kernel collapses each (spec, shard) to one
    * PARTIAL count — the full match sets never leave their task (map-side
    * aggregation taken to its limit). Only the per-task partial sums of
    * those partials cross the one Exchange, regardless of match counts,
    * which is what keeps count-heavy serving scaling when individual
    * matches number in the millions. Void queries count 0 (the qi spine
    * guarantees a row per slot); full-scan queries count their matches
    * among the shard's docs rows in the same pass. Returns (qi, cnt).
    */
  def msearchCounts(queryStrs: Seq[String]): DataFrame =
    cached("msearchC" + Searcher.key(queryStrs: _*))(msearchCountsPlan(queryStrs))

  /** Uncached twin of [[msearchCounts]] (fresh-planned ad-hoc path) —
    * sugar over a batch of [[Searcher.MsearchSpec.Count]] slots through
    * the unified fused planner: Count slots emit (qi, docId = cnt), so
    * counts-only batches keep the exact shape this method always had
    * (one read, one Exchange of partial counts, a spine row per slot), and
    * mixed match+count batches share ONE read.
    */
  def msearchCountsPlan(queryStrs: Seq[String]): DataFrame =
    msearchPlan(queryStrs.map(Searcher.MsearchSpec.Count(_)))
      .select(col("qi"), col("docId").as("cnt"))

  /** docIds whose indexed value tokenizes to NOTHING (empty or NULL
    * column) — served from the reserved placeholder key the build indexes
    * for token-less docs ([[graft.build.IndexBuilder.EmptyToken]]; the
    * reference's placeholder-key categories src/rum.h:205-211 and
    * INCLUDE_EMPTY scan mode src/rumscan.c:144-151), NOT a corpus scan:
    * the plan is a postings lookup of one key, like any other single-term
    * match. On a multi-column index pass the field whose
    * emptiness is being asked about.
    */
  private def emptyKeyRaw(field: Option[String]): String = field match {
    case Some(f) =>
      require(meta.fields.split(",").contains(f),
        s"unknown field '$f' (have ${meta.fields})")
      graft.build.IndexBuilder.fieldKey(f, graft.build.IndexBuilder.EmptyToken)
    case None =>
      require(meta.fields.isEmpty,
        s"multi-column index (fields=${meta.fields}): pass the field")
      graft.build.IndexBuilder.EmptyToken
  }

  /** The placeholder key as a compiled single-leaf query: to the kernel
    * it is an ordinary key (its rows carry an empty position
    * payload, which decodes to a present-but-empty position list), so
    * Match/Count slots over it ride fused batches like any other query —
    * INCLUDE_EMPTY inside the serving batch (src/rumscan.c:144-151).
    */
  private def emptyCompiled(field: Option[String]): CompiledQuery =
    compileTree(TsQuery.Lexeme(emptyKeyRaw(field)))

  def matchingEmpty(field: Option[String] = None): DataFrame =
    cached("matchEmpty" + Searcher.key(emptyKeyRaw(field))) {
      oneSlot(Searcher.MsearchSpec.MatchEmpty(field), col("docId"))
    }

  def countEmpty(field: Option[String] = None): Long =
    runCount("countEmpty" + Searcher.key(field.getOrElse("")), matchingEmpty(field))

  /** Decoded postings of one term: (doc_id, tf) — the bitmap-scan shape
    * plus payload-derived tf; used for verification and as a building
    * block for joins back to the corpus.
    */
  def termPostings(term: String): DataFrame =
    cached("post" + Searcher.key(term))(termPostingsU(term))

  private def termPostingsU(term: String): DataFrame = {
    postings.where(col("term") === keyOf(term))
      .flatMap { row =>
        val cur = new PostingCursor(Iterator(row.blocks))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        while (!cur.done) { out += ((cur.docId, cur.tf)); cur.next() }
        out.iterator
      }.toDF("doc_id", "tf")
  }

  /** Global per-term document frequencies from the stats table. In hash
    * mode the output `term` column carries the hashed key.
    */
  def termStats(terms: Seq[String]): DataFrame =
    cached("stats" + Searcher.key(terms: _*)) {
      statsDF.where(col("term").isin(terms.map(keyOf): _*))
        .select(col("term"), col("df"))
    }

  /** Doc length table (token counts). */
  def docLens: DataFrame =
    docs.select(col("docId").as("doc_id"), col("len"))

}

object Searcher {
  /** One query of a fused [[Searcher.msearch]] batch. */
  sealed trait MsearchSpec
  object MsearchSpec {
    /** unordered boolean match: every docId satisfying the tsquery */
    final case class Match(query: String) extends MsearchSpec
    /** BM25 disjunctive top-k over a bag of terms (higher score better) */
    final case class Bm25(terms: Seq[String], k: Int) extends MsearchSpec
    /** cover-density ranked top-k (score = distance, lower better);
      * `method` = CoverRank normalization flags (UNIQ norms make it a
      * full-scan slot — they read the docs rows)
      */
    final case class Cover(query: String, k: Int, method: Int = 0) extends MsearchSpec
    /** composite-ordered top-k riding the fused batch:
      * `WHERE q ORDER BY t <=> q, addon <op> c, docId LIMIT k`
      * lexicographic (the [[Searcher.topKMulti]] Rank-then-Addon shape;
      * reference sorts the whole distances[norderbys] vector then TID,
      * src/rumget.c:2218-2301). Slot score = the PRIMARY key's rank
      * distance (lower better); the addon key decides membership and
      * tie-breaks but is not re-emitted (the batch schema is
      * (qi, docId, score)). UNIQ norms / full-scan-only queries ride as
      * full-scan slots of the same read.
      */
    final case class Order2(query: String, c: Long, op: String, k: Int,
        method: Int = 0) extends MsearchSpec
    /** match COUNT riding the fused batch: the kernel emits only the
      * per-shard PARTIAL count (the match set never leaves its task — the
      * slot ships at most nShards rows regardless of match count).
      * Emits exactly ONE row per slot even for void/zero-match queries:
      * (qi, docId = the count, score = the count as double).
      * [[Searcher.msearchCounts]] is sugar over a batch of these; mixing
      * Count slots with Match/Bm25/Cover/Order2 slots shares the ONE
      * postings scan across all of them.
      */
    final case class Count(query: String) extends MsearchSpec
    /** multicolumn [[Count]]: one tsquery per field, ANDed */
    final case class CountFields(fieldQueries: Seq[(String, String)])
      extends MsearchSpec
    /** multicolumn match: one tsquery per field, ANDed (compileMulti) */
    final case class MatchFields(fieldQueries: Seq[(String, String)]) extends MsearchSpec
    /** multicolumn ranked top-k: rank one field's query, siblings filter;
      * `method` as in [[Cover]]
      */
    final case class CoverFields(rankField: String, rankQuery: String,
        filters: Seq[(String, String)], k: Int, method: Int = 0) extends MsearchSpec
    /** field-scoped BM25 over a multicolumn index */
    final case class Bm25Fields(field: String, terms: Seq[String], k: Int)
      extends MsearchSpec
    /** addon ordered top-k: `WHERE q ORDER BY addon <op> c LIMIT k`
      * (score = exact saturating distance as double, lower better); served
      * from the alt-order layout when it can, else a composite top-k slot
      * of the primary pass
      */
    final case class Addon(query: String, c: Long, op: String, k: Int)
      extends MsearchSpec
    /** addon range filter: `WHERE q AND lo <= addon <= hi` (score = 0.0) */
    final case class AddonRange(query: String, lo: Long, hi: Long)
      extends MsearchSpec
    /** multicolumn [[Addon]]: one tsquery per field, ANDed */
    final case class AddonFields(fieldQueries: Seq[(String, String)], c: Long,
        op: String, k: Int) extends MsearchSpec
    /** multicolumn [[AddonRange]] */
    final case class AddonRangeFields(fieldQueries: Seq[(String, String)],
        lo: Long, hi: Long) extends MsearchSpec
    /** [[Addon]] in float VALUE units over a
      * [[graft.build.AddonUnits.floatOrderedBits]]-encoded attach: score =
      * `|value - c|` as an exact double — the fused twin of
      * [[Searcher.topKAddonFloat]]. Served like [[Addon]], ranking the
      * double distance's own bit image (on the alt layout, early
      * termination preserved); NaN addons sort last.
      */
    final case class AddonFloat(query: String, c: Double, op: String, k: Int)
      extends MsearchSpec
    /** [[AddonRange]] in float VALUE units: a pure bound desugar — bit
      * order = value order for [[graft.build.AddonUnits.floatOrderedBits]]
      * keys, so the slot IS an AddonRange over the encoded bounds (NaN
      * never matches: its bit image sits above +Inf's).
      */
    final case class AddonRangeFloat(query: String, lo: Double, hi: Double)
      extends MsearchSpec
    /** facet histogram riding the fused batch (the
      * [[Searcher.countByAddonBucket]] shape): per-shard bucket PARTIALS
      * are all that ship — ≤ buckets × shards rows per slot regardless of
      * match count. Result rows are (qi, docId = bucket start,
      * score = count as double); only non-empty buckets emit. The alt
      * layout's bounded scan or the primary pass's match stream feeds the
      * same per-shard bucket counter, and one sum over both layouts'
      * partials finishes every facet slot of the batch.
      */
    final case class Facet(query: String, width: Long, lo: Long, hi: Long)
      extends MsearchSpec
    /** multicolumn [[Facet]]: one tsquery per field, ANDed */
    final case class FacetFields(fieldQueries: Seq[(String, String)],
        width: Long, lo: Long, hi: Long) extends MsearchSpec
    /** [[Facet]] in float VALUE units over a
      * [[graft.build.AddonUnits.floatOrderedBits]]-encoded attach (the
      * fused twin of [[Searcher.countByAddonBucketFloat]]): result rows
      * are (qi, docId = the bucket start's RAW IEEE bits — decode with
      * `java.lang.Double.longBitsToDouble` — , score = count). Served by
      * the same layouts and counter as [[Facet]].
      */
    final case class FacetFloat(query: String, width: Double, lo: Double,
        hi: Double) extends MsearchSpec
    /** docIds whose indexed value is empty/NULL, riding the fused batch —
      * INCLUDE_EMPTY inside the serving batch (the reserved placeholder
      * key is an ordinary key to the kernel,
      * src/rumscan.c:144-151). Pass the field on a multicolumn index.
      */
    final case class MatchEmpty(field: Option[String] = None) extends MsearchSpec
    /** count of empty/NULL values as a per-shard-partial [[Count]] slot */
    final case class CountEmpty(field: Option[String] = None) extends MsearchSpec
  }

  /** The shard directory of a dataset file's relative path. */
  private val ShardDir = "(?:^|/)shard=(\\d+)/".r

  private[search] def requireFacet(width: Long, lo: Long, hi: Long): Unit = {
    require(width > 0, s"facet width must be positive: $width")
    require(lo <= hi && hi - lo >= 0, // hi-lo < 0 means the span overflowed
      s"facet range invalid (or span overflows Long): [$lo, $hi]")
  }

  private[search] def requireFacetFloat(width: Double, lo: Double,
                                        hi: Double): Unit = {
    require(width > 0 && !width.isInfinite && !width.isNaN,
      s"facet width must be positive finite: $width")
    require(!lo.isNaN && !hi.isNaN && !lo.isInfinite && !hi.isInfinite &&
      lo <= hi, s"facet range must be finite and ordered: [$lo, $hi]")
    // bucket index k must stay exactly representable as both Long and
    // Double for the two engines' floor paths to agree bit-for-bit
    require((hi - lo) / width < 1e15, s"too many buckets: [$lo, $hi] / $width")
  }

  /** Rejects a non-positive top-k bound at plan time, before any job. */
  private[search] def requireK(k: Int): Unit = require(k > 0, s"k must be positive: $k")

  /** Rejects an addon distance operator other than both/left/right. */
  private[search] def requireOp(op: String): Unit =
    require(Set("both", "left", "right").contains(op), s"op: $op")

  /** Rejects a spec's invalid parameters — a bounded spec's k, an ordered
    * spec's op, a facet's width and range — at plan time. A batch checks
    * every spec before any slot plans, so a rejected batch runs no job.
    */
  private[search] def requireSpec(sp: MsearchSpec): Unit = {
    import MsearchSpec._
    sp match {
      case Bm25(_, k) => requireK(k)
      case Bm25Fields(_, _, k) => requireK(k)
      case Cover(_, k, _) => requireK(k)
      case CoverFields(_, _, _, k, _) => requireK(k)
      case Order2(_, _, op, k, _) => requireOp(op); requireK(k)
      case Addon(_, _, op, k) => requireOp(op); requireK(k)
      case AddonFields(_, _, op, k) => requireOp(op); requireK(k)
      case AddonFloat(_, _, op, k) => requireOp(op); requireK(k)
      case Facet(_, w, lo, hi) => requireFacet(w, lo, hi)
      case FacetFields(_, w, lo, hi) => requireFacet(w, lo, hi)
      case FacetFloat(_, w, lo, hi) => requireFacetFloat(w, lo, hi)
      case _ => ()
    }
  }

  /** Global top-k over shard-pruned bounded slot rows, `ks` = (qi, k) per
    * slot: one slot ends in an ordered limit, which the slot's own scan
    * merges on the driver when nothing sits between them (the
    * [[ShardScanStrategy]] top-k merge), else Spark runs it as
    * TakeOrderedAndProject; two or more keep each slot's k best with a
    * row_number window per qi.
    */
  private[search] def topKTail(rows: DataFrame, ks: Seq[(Int, Int)], order: Seq[Column],
                           out: Seq[Column]): DataFrame =
    if (ks.length == 1) rows.orderBy(order: _*).limit(ks.head._2).select(out: _*)
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("qi").orderBy(order: _*)
      val kOf = map(ks.flatMap { case (qi, k) => Seq(lit(qi), lit(k)) }: _*)
      rows.withColumn("rank", row_number().over(w))
        .where(col("rank") <= element_at(kOf, col("qi")))
        .select(out: _*)
    }

  /** The global top-k order of bounded slot rows. A lone composite slot
    * re-ranks its survivors by its own keys; otherwise every slot orders
    * by the kernel's (sort, sort2) image of its key, then docId — exact for
    * cover, BM25 and the batch composites (Order2: rank, then addon
    * distance; Addon: addon distance).
    */
  private[search] def topKOrder(bounded: Seq[FusedSpec]): Seq[Column] = bounded match {
    case Seq(f) if f.mode == 4 => f.order.map(keyCol(_).asc).toSeq :+ col("docId").asc
    case _ => Seq(col("sort").asc, col("sort2").asc, col("docId").asc)
  }

  /** A composite key over a composite slot's rows: the rank distance
    * (`score`), or the addon distance by [[AltKernel.satDist]].
    */
  private[search] def keyCol(key: SortKey): Column =
    if (key.rank) col("score") else udf((a: Long) => key.dist(a)).apply(col("addon"))

  /** One key of a composite top-k slot's order: the match's rank distance
    * (`rank`), else its addon distance `addon <op> c` by
    * [[AltKernel.satDist]] — an exact saturating long, or with
    * `floatUnits` the bit image of the VALUE-space double distance.
    */
  private[search] final case class SortKey(rank: Boolean, c: Long = 0L, op: String = "",
                                           floatUnits: Boolean = false) {
    /** the addon distance of `a`; -1 = a one-sided miss */
    def dist(a: Long): Long = AltKernel.satDist(a, c, op, floatUnits)
    /** an addon distance as the slot's double score */
    def score(d: Long): Double =
      if (floatUnits) java.lang.Double.longBitsToDouble(d) else d.toDouble
  }
  private[search] object SortKey {
    val Rank: SortKey = SortKey(rank = true)
  }

  /** Compiled fused-batch slot (task-closure payload: no session refs),
    * served by the primary kernel or — ordered-scan modes 4 to 6, when the
    * alt layout can drive the query — by the alt kernel.
    * mode 0 = match, 1 = cover top-k, 2 = BM25 WAND top-k (`terms`, `dfs`,
    * `ubs`), 3 = count (per-shard partial), 4 = composite top-k by `order`
    * then docId (Order2, addon top-k, [[Searcher.topKMulti]]), 5 = addon
    * range [lo, hi], 6 = facet bucket partials (`width`, `lo`, `hi`;
    * `floatUnits`: ordered-bits bounds, VALUE-space buckets). `rank`: the
    * slot scores its matches by cover distance. `fullScan`: the candidates
    * are every doc of the shard, from its docs rows; `matchOnly = false`
    * (order-only cover) also keeps the docs that do not match.
    */
  private[search] final case class FusedSpec(
      qi: Int, mode: Int, cq: CompiledQuery = null, k: Int = 0,
      terms: Array[String] = null, dfs: Array[Long] = null, ubs: Array[Double] = null,
      scoreCq: CompiledQuery = null, scoreMap: Array[Int] = null,
      method: Int = 0, rank: Boolean = false, order: Array[SortKey] = null,
      lo: Long = 0L, hi: Long = 0L, width: Long = 0L, floatUnits: Boolean = false,
      fullScan: Boolean = false, matchOnly: Boolean = true) {
    val keys: Array[SearchKernel.KeySpec] = if (cq == null) null else SearchKernel.keySpecs(cq)
  }

  /** [[graft.build.AddonUnits.floatOrderedBits]] image → its double. */
  private val orderedBitsToDouble =
    udf((bits: Long) => graft.build.AddonUnits.floatFromOrderedBits(bits))
  /** raw IEEE-754 bits → double */
  private val longBitsToDouble =
    udf((bits: Long) => java.lang.Double.longBitsToDouble(bits))

  /** One ORDER BY key of a [[Searcher.topKMulti]] scan. */
  sealed trait OrderKey
  object OrderKey {
    /** rank distance `t <=> q` (cover-density, with optional CoverRank
      * normalization flags)
      */
    final case class Rank(method: Int = 0) extends OrderKey
    /** addon distance `addon <op> c`: op "both" = `<=>`, "left" = `<=|`,
      * "right" = `|=>`
      */
    final case class Addon(c: Long, op: String = "both") extends OrderKey
  }

  /** Default plan-cache capacity: the cache is access-ordered LRU, so past
    * this many distinct query shapes the least-recently-used plan is
    * evicted -- a shape-churning prepared workload keeps its hot set instead
    * of degrading to permanent re-planning.
    */
  val MaxCachedPlans = 4096

  /** Collision-safe cache key for one msearch spec: a variant tag + the
    * structured constructor fields as one self-delimiting [[key]].
    * (Keying on case-class toString would render Bm25(Seq("a, b"), k) and
    * Bm25(Seq("a", "b"), k) identically -- two different batches could then
    * share a cache slot and return the wrong cached plan.)
    */
  private[search] def specKey(sp: MsearchSpec): String = {
    import MsearchSpec._
    (sp match {
      case Match(q) => key("M", q)
      case Bm25(ts, k) => key("B" +: k.toString +: ts: _*)
      case Cover(q, k, m) => key("C", q, k.toString, m.toString)
      case Order2(q, c, op, k, m) =>
        key("O2", q, c.toString, op, k.toString, m.toString)
      case Count(q) => key("K", q)
      case CountFields(fq) => key("KF" +: fq.flatMap(p => Seq(p._1, p._2)): _*)
      case MatchFields(fq) => key("MF" +: fq.flatMap(p => Seq(p._1, p._2)): _*)
      case CoverFields(rf, rq, fl, k, m) =>
        key(Seq("CF", rf, rq, k.toString, m.toString) ++ fl.flatMap(p => Seq(p._1, p._2)): _*)
      case Bm25Fields(f, ts, k) => key(Seq("BF", f, k.toString) ++ ts: _*)
      case Addon(q, c, op, k) => key("A", q, c.toString, op, k.toString)
      case AddonRange(q, lo, hi) => key("R", q, lo.toString, hi.toString)
      case AddonFields(fq, c, op, k) =>
        key(Seq("AF", c.toString, op, k.toString) ++ fq.flatMap(p => Seq(p._1, p._2)): _*)
      case AddonRangeFields(fq, lo, hi) =>
        key(Seq("RF", lo.toString, hi.toString) ++ fq.flatMap(p => Seq(p._1, p._2)): _*)
      // doubles keyed by raw bits: distinguishes -0.0/0.0 and every NaN
      // payload the caller could pass (toString would collapse them)
      case AddonFloat(q, c, op, k) =>
        key("AD", q, java.lang.Double.doubleToRawLongBits(c).toString, op,
          k.toString)
      case AddonRangeFloat(q, lo, hi) =>
        key("RD", q, java.lang.Double.doubleToRawLongBits(lo).toString,
          java.lang.Double.doubleToRawLongBits(hi).toString)
      case Facet(q, w, lo, hi) =>
        key("FA", q, w.toString, lo.toString, hi.toString)
      case FacetFields(fq, w, lo, hi) =>
        key(Seq("FAF", w.toString, lo.toString, hi.toString) ++
          fq.flatMap(p => Seq(p._1, p._2)): _*)
      case FacetFloat(q, w, lo, hi) =>
        key("FAD", q, java.lang.Double.doubleToRawLongBits(w).toString,
          java.lang.Double.doubleToRawLongBits(lo).toString,
          java.lang.Double.doubleToRawLongBits(hi).toString)
      case MatchEmpty(f) => key("ME", f.getOrElse(""))
      case CountEmpty(f) => key("KE", f.getOrElse(""))
    })
  }

  /** Collision-free cache key: each arg length-prefixed after a \u0001 tag
    * boundary. No separator alone would do: terms may hold any character,
    * and every multi-column term holds \u0001 (`IndexBuilder.FieldSep`).
    */
  private def key(parts: String*): String =
    parts.map(p => s"${p.length}:$p").mkString("\u0001", "", "")
}
