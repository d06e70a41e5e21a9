package graft.build

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PositionCodec, PostingBlock, PostingCursor, PostingListBuilder}
import graft.tokenize.Tokenizer

/** One (term, docId-range) chunk of a shard's posting list.
  *
  * RUM equivalents: the entry-tree leaf + posting tree for one key
  * (reference: src/ruminsert.c:248-401 posting-tree promotion). A term's
  * postings may span several chunk rows with disjoint, ordered docId
  * ranges — and, after incremental appends, overlapping ranges that the
  * query kernel k-way merges (micro-segments).
  */
final case class PostingRow(
    shard: Int,
    term: String,
    chunk: Int,
    ndocs: Long,
    maxTf: Int,
    blocks: Array[PostingBlock])

/** One map-side-packed sorted run of a (shard, term) cell — the unit that
  * crosses the build shuffle. Packing BEFORE the shuffle (RUM's in-memory
  * BuildAccumulator flush, src/rumbulk.c:27-199, re-expressed as a
  * map-side combine) ships delta+varbyte blocks instead of one row per
  * (term, doc): far fewer shuffle rows/bytes for head terms, which is what
  * scaling to more executors is bounded by.
  */
final case class RunRow(
    shard: Int,
    term: String,
    firstDoc: Long,
    ndocs: Long,
    maxTf: Int,
    blocks: Array[PostingBlock])

/** Per-doc row: shard + token count (BM25 length norm; also the full-scan
  * stream for match-all / order-only queries — RUM's EVERYTHING mode,
  * src/rumget.c:2024-2083). `addon` carries the attached column when the
  * index was built with one (0 otherwise); `uniq` is the distinct-lexeme
  * count (tsvector size) the heap-side UNIQ rank norms divide by.
  */
final case class DocRow(shard: Int, docId: Long, len: Int, addon: Long, uniq: Int)

/** Global per-term stats — RUM's predictNumberResult analogue
  * (src/rumdatapage.c:450); df/maxTf give WAND term upper bounds.
  */
final case class TermStat(term: String, df: Long, maxTf: Int)

/** Tokenizer UDF output: one element per distinct term of a doc. `uniq`
  * carries the doc's distinct-term count on the FIRST entry only (-1 on the
  * rest) so the docs table derives from the exploded tuples by a narrow
  * filter instead of a corpus-sized aggregation.
  */
final case class TermEntry(term: String, tf: Int, len: Int, pos: Array[Byte],
                           uniq: Int)

/** Distributed inverted-index build (the CREATE INDEX path,
  * reference: src/ruminsert.c:594-708 rumbuild) plus the maintenance
  * surface: incremental append (ruminsert, src/ruminsert.c:799-837),
  * delete (rumbulkdelete, src/rumvacuum.c:638-749) and compaction
  * (posting merge, src/rumdatapage.c:367-408), all over immutable
  * parquet segments with an atomic manifest.
  *
  * Spark-native dataflow:
  *   corpus → tokenize (narrow, codegen-friendly UDF) →
  *   repartition(shard, term) → sortWithinPartitions(shard, term, docId) →
  *   mapPartitions pack posting blocks → parquet partitioned by shard.
  *
  * The single hash shuffle replaces RUM's red-black-tree accumulator +
  * page packing (src/rumbulk.c, src/rumdatapage.c): Spark's external sort
  * handles memory-bounded spill, the sorted run is packed full exactly like
  * RUM's build-mode split heuristic (src/rumdatapage.c:1253-1260).
  * Head-term skew dissolves across the shard dimension (shard =
  * hash(docId)); the per-chunk cap bounds any remaining cell.
  *
  * Resumability: shards are the checkpoint unit. Each committed shard is
  * recorded in the manifest with lineage + metrics; a re-run with `resume`
  * skips committed shards and only processes the remainder.
  */
object IndexBuilder {

  /** On-disk format version. Version 3 was stamped ambiguously — written
    * both before and after the docs table gained `uniq` (the distinct-lexeme
    * count UNIQ rank norms divide by) — so v4 pins the uniq-carrying schema
    * and ALL v3 indexes require rebuild, including ones that happen to carry
    * the column. Version 5 adds the reserved empty-item placeholder key
    * ([[EmptyToken]]): a v4 index would silently answer `matchingEmpty`
    * with zero rows, so it requires rebuild too. Readers and incremental
    * writers refuse other versions up front — a missing column/key must
    * surface as "rebuild required", not a wrong answer mid-query.
    */
  val CurrentFormat = 5

  /** Reserved entry key indexed for a document whose value tokenizes to
    * NOTHING (empty or NULL text) — the reference's placeholder-key
    * categories (RUM_CAT_EMPTY_ITEM / NULL_KEY, src/rum.h:205-211), which
    * make "match docs with empty/null column" servable from the index
    * (INCLUDE_EMPTY scan mode, src/rumscan.c:144-151) instead of a corpus
    * scan. The \u0000 prefix cannot collide with tokenizer output
    * ([a-z0-9]+ runs) and sorts before every real term, so term-range
    * prefix predicates never sweep it in.
    */
  val EmptyToken = "\u0000empty"

  def requireFormat(meta: IndexMeta): Unit =
    require(meta.formatVersion == CurrentFormat,
      s"index format ${meta.formatVersion} (current $CurrentFormat): rebuild required")

  final case class Params(
      nShards: Int = 32,
      blockSize: Int = PostingBlock.DefaultSize,
      maxPostingsPerChunk: Int = 1 << 17,
      tokenizer: String = "simple",
      numPartitions: Int = 0,
      /** column stamped into every posting as addon payload — RUM's
        * `WITH (attach='d', to='t')` (src/ruminsert.c:505-515); must be
        * castable to long (timestamps: pass epoch micros)
        */
      attach: Option[String] = None,
      /** "text" = raw term keys; "hash" = 64-bit FNV-1a hex keys (the
        * rum_tsvector_hash_ops variant — no prefix search, see
        * [[graft.core.HashKeys]])
        */
      keyKind: String = "text",
      /** also maintain the (addon, docId)-ordered posting copy — RUM's
        * order_by_attach layout (src/rumdatapage.c:327-360) serving
        * `ORDER BY addon <op> c LIMIT k` with early termination
        * ([[graft.search.AltKernel]]); requires `attach`. Addon values may
        * be any signed long: the key-slot codec delta-encodes signed order
        * with wrap-safe gaps (VarByte.encodeDeltas), so negative scalars
        * and epoch-spanning timestamps order correctly.
        */
      altOrder: Boolean = false) {
    def hash: String = {
      // v6: empty-item placeholder key (format 5)
      val s = s"v6|$nShards|$blockSize|$maxPostingsPerChunk|$tokenizer|${attach.getOrElse("")}|$keyKind|$altOrder"
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  /** Reject layout params no build can use, before any file is touched or
    * job runs (a zero block size would otherwise fail mid-stage, a zero
    * shard count in a modulo).
    */
  private def requireValid(params: Params): Unit = {
    require(params.nShards > 0, s"nShards must be positive, got ${params.nShards}")
    require(params.blockSize > 0, s"blockSize must be positive, got ${params.blockSize}")
    require(params.maxPostingsPerChunk > 0,
      s"maxPostingsPerChunk must be positive, got ${params.maxPostingsPerChunk}")
  }

  /** Reconstruct build params from a manifest (for append/compact). */
  def paramsOf(meta: IndexMeta): Params = Params(
    nShards = meta.nShards, blockSize = meta.blockSize,
    maxPostingsPerChunk = meta.maxPostingsPerChunk, tokenizer = meta.tokenizer,
    attach = if (meta.attachCol.isEmpty) None else Some(meta.attachCol),
    keyKind = meta.keyKind, altOrder = meta.altOrder)

  /** Relative paths of all parquet part files under `dir` (the listing
    * committed into the manifest — Iceberg-snapshot style).
    */
  private def listParquet(dir: String): List[String] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val stream = java.nio.file.Files.walk(base)
    try {
      stream.forEach { p =>
        if (p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
          out += base.relativize(p).toString
      }
    } finally stream.close()
    out.toList.sorted
  }

  private def datasetDir(indexDir: String, kind: String): String = kind match {
    case "postings" => SegmentCatalog.postingsDir(indexDir)
    case "alt" => SegmentCatalog.altDir(indexDir)
    case "docs" => SegmentCatalog.docsDir(indexDir)
    case "stats" => SegmentCatalog.statsDir(indexDir)
  }

  private def schemaOf(kind: String): org.apache.spark.sql.types.StructType = kind match {
    case "postings" | "alt" => org.apache.spark.sql.Encoders.product[PostingRow].schema
    case "docs" => org.apache.spark.sql.Encoders.product[DocRow].schema
    case "stats" => org.apache.spark.sql.Encoders.product[TermStat].schema
  }

  /** Read a dataset through its manifest file listing: exactly the files
    * the atomic commit covers — data from a crashed or replayed write is
    * invisible. Legacy manifests (no listing) fall back to a directory
    * read; an empty listing yields an empty frame.
    */
  def readDataset(spark: SparkSession, indexDir: String, meta: IndexMeta,
                  kind: String): DataFrame =
    readFiles(spark, datasetDir(indexDir, kind), meta.dataFiles.get(kind), schemaOf(kind))

  private def readFiles(spark: SparkSession, dir: String, files: Option[List[String]],
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    files match {
      case Some(Nil) =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      case Some(fs) =>
        spark.read.option("basePath", dir).schema(schema)
          .parquet(fs.map(f => s"$dir/$f"): _*)
      case None => spark.read.schema(schema).parquet(dir)
    }

  private def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(c => deleteRecursively(c.getPath))
      f.delete()
    }
  }

  def tokenizerFn(name: String): String => Array[Tokenizer.TermOccs] = name match {
    case "simple" => (t: String) => Tokenizer.simple(if (t == null) "" else t)
    case "code" => (t: String) => Tokenizer.code(if (t == null) "" else t)
    case "simple_title8" => (t: String) => Tokenizer.simpleTitle(if (t == null) "" else t, 8)
    case other => throw new IllegalArgumentException(s"unknown tokenizer: $other")
  }

  private def tokenCountFn(name: String): String => Int = name match {
    case "simple" | "simple_title8" => (t: String) => Tokenizer.simpleCount(if (t == null) "" else t)
    case "code" => (t: String) => Tokenizer.codeCount(if (t == null) "" else t)
    case other => throw new IllegalArgumentException(s"unknown tokenizer: $other")
  }

  private def uniqueCountFn(name: String): String => Int = name match {
    case "simple" | "simple_title8" => (t: String) => Tokenizer.simpleUniqueCount(if (t == null) "" else t)
    case "code" => (t: String) => Tokenizer.codeUniqueCount(if (t == null) "" else t)
    case other => throw new IllegalArgumentException(s"unknown tokenizer: $other")
  }

  /** docId, guarded: ids are the index's primary key, so a null (or
    * uncastable) id is a data error surfaced with its column name rather
    * than an encoder assertion deep in a build stage.
    */
  private def docIdColOf(docIdCol: String) =
    when(col(docIdCol).cast("long").isNull,
      raise_error(lit(s"docId column '$docIdCol' is null or not castable " +
        "to long; clean ids before indexing")))
      .otherwise(col(docIdCol).cast("long")).as("docId")

  /** Attached-column value, guarded: a NULL (or a value the long cast
    * nulls out) would otherwise surface mid-job as an opaque encoder
    * NOT_NULL_ASSERT_VIOLATION; fail with an actionable message instead.
    * Addon semantics are non-nullable by design (distances/ranges over the
    * payload) — fill or filter nulls before indexing. Null TEXT needs no
    * guard: it indexes as an empty document.
    */
  private def addonColOf(attach: Option[String], docId: Column) = attach
    .map(a => when(col(a).isNull || col(a).cast("long").isNull,
        raise_error(concat(lit(s"attach column '$a' is null or not castable " +
          "to long for docId="), docId.cast("string"),
          lit("; fill or filter nulls before indexing"))))
      .otherwise(col(a).cast("long")))
    .getOrElse(lit(0L)).as("addon")

  /** corpus slice → normalized (docId, text, addon, shard) columns. */
  private[graft] def normalize(corpus: DataFrame, docIdCol: String, textCol: String,
                        params: Params): DataFrame = {
    val addonCol = addonColOf(params.attach, col(docIdCol).cast("long"))
    corpus
      .select(docIdColOf(docIdCol), col(textCol).as("text"), addonCol)
      .withColumn("shard", pmod(xxhash64(col("docId")), lit(params.nShards)).cast("int"))
  }

  /** Field separator for multi-column keys — the attnum prefix of the
    * reference's multicolumn entries (src/rumutil.c:266-288) re-expressed
    * as a key-space prefix: all of a field's terms form one contiguous
    * range, so field-scoped term and prefix predicates stay range prunable.
    */
  val FieldSep = "\u0001"
  def fieldKey(field: String, term: String): String = field + FieldSep + term

  /** tokenize+explode a normalized slice into posting tuples. */
  private[graft] def explodedOf(todo: DataFrame, params: Params,
                         keyPrefix: String = ""): DataFrame = {
    val tokName = params.tokenizer
    val hashKeys = params.keyKind == "hash"
    val tokUdf = udf { (text: String) =>
      val occs = tokenizerFn(tokName)(text)
      if (occs.isEmpty) {
        // token-less (empty/NULL) value: index the reserved placeholder key
        // so empty-item queries are index-servable (src/rumscan.c:144-151)
        val raw = keyPrefix + EmptyToken
        val key = if (hashKeys) graft.core.HashKeys.hex(raw) else raw
        Array(TermEntry(key, 0, 0, Array.emptyByteArray, 0))
      } else {
        var len = 0
        var i = 0
        while (i < occs.length) { len += occs(i).tf; i += 1 }
        var first = true
        occs.map { o =>
          val raw = keyPrefix + o.term
          val key = if (hashKeys) graft.core.HashKeys.hex(raw) else raw
          val (cp, cw) = PositionCodec.cap(o.positions, o.wclasses)
          // distinct-term count stamped on the first entry only: one row
          // per doc carries the per-doc stats the docs table needs
          val u = if (first) occs.length else -1
          first = false
          TermEntry(key, o.tf, len, PositionCodec.encode(cp, cw), u)
        }
      }
    }
    todo
      .select(col("shard"), col("docId"), col("addon"), explode(tokUdf(col("text"))).as("e"))
      .select(col("shard"), col("e.term").as("term"), col("docId"),
        col("e.tf").as("tf"), col("e.len").as("len"), col("e.pos").as("pos"), col("addon"),
        col("e.uniq").as("uniq"))
  }

  /** Docs table derived from exploded posting tuples — equivalent to the
    * per-doc count/uniq tokenize pass by construction: every entry of a doc
    * carries the doc's total token count (`len`) and addon; `uniq`
    * (distinct-lexeme count, the tsvector size UNIQ norms divide by) is the
    * number of real-term entries, since the tokenizer emits exactly one
    * entry per distinct raw term and the empty-doc placeholder entry is the
    * only one with tf = 0.
    */
  /** The docs table is the exploded tuples' first-entry rows (uniq >= 0 —
    * exactly one per doc by construction): a narrow filter + shard-pure
    * repartition of ndocs rows, no corpus-sized aggregation.
    */
  private[graft] def docsFromExploded(exploded: DataFrame, params: Params): DataFrame =
    shardPure(exploded.where(col("uniq") >= 0)
      .select("shard", "docId", "len", "addon", "uniq"), params)

  /** Route docs rows so each shard lands in exactly one task (see
    * [[shardRouting]]): a partitionBy("shard") write emits ONE file per
    * shard instead of one per (task, shard) pair.
    */
  private def shardPure(df: DataFrame, params: Params): DataFrame = {
    val (nPart, pid) = shardRouting(df.sparkSession, params, byTerm = false)
    df.repartition(nPart, pid)
  }

  /** Partition count and routing column shared by every shard-partitioned
    * write (docs, and stage B of [[packDataset]] for postings and alt).
    *
    * The task width follows the shuffle width `p` (`params.numPartitions`,
    * else `spark.sql.shuffle.partitions`), not the shard count: with
    * `sub = max(1, p / nShards)` term sub-buckets per shard (`byTerm`; the
    * docs write uses `sub = 1`) and `nPart = min(p, nShards·sub)`, the
    * target `pmod(shard·sub + termBucket, nPart)` is routed exactly through
    * the murmur3 preimage table ([[hashPreimages]]). Every (shard,
    * term-bucket) slice lands in exactly ONE task, so partitionBy("shard")
    * writes one file per slice whatever the width. When nShards > p a task
    * writes ⌈nShards/p⌉ whole shards, so a shard count above the slot
    * count adds no task waves (the per-task and per-wave overhead, not the
    * pack work, dominates small builds); when nShards ≤ p each task holds
    * one slice. The on-disk layout (nShards shard directories, the
    * checkpoint units) never depends on p.
    */
  private def shardRouting(spark: SparkSession, params: Params,
                           byTerm: Boolean): (Int, Column) = {
    val p = if (params.numPartitions > 0) params.numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val sub = if (byTerm) math.max(1, p / params.nShards) else 1
    val nPart = math.min(p, params.nShards * sub)
    val target =
      if (sub == 1) col("shard")
      else col("shard") * lit(sub) +
        pmod(xxhash64(col("term")), lit(sub)).cast("int")
    (nPart, element_at(typedlit(hashPreimages(nPart).toSeq),
      pmod(target, lit(nPart)).cast("int") + 1))
  }

  /** Run independent write jobs concurrently from a small driver pool
    * (they all consume the same persisted tuple cache; the block manager's
    * get-or-compute serializes any racing partition materialization, and
    * Spark's FIFO scheduler back-fills one job's task tail with the next
    * job's tasks — build wall time becomes the max of the writes, not
    * their sum).
    *
    * Each job runs in its own Spark job group. The first failure cancels
    * the other groups (running and future jobs, interrupting their tasks),
    * interrupts the pool and waits for it to drain before it is rethrown —
    * a failed write leaves no sibling job still writing files behind it.
    */
  private[graft] def runConcurrently(spark: SparkSession, jobs: Seq[() => Unit]): Unit = {
    if (jobs.length <= 1) { jobs.foreach(_()); return }
    val sc = spark.sparkContext
    val groups = jobs.indices.map(i => s"graft-build-${java.util.UUID.randomUUID()}-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.length)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    try {
      jobs.zip(groups).foreach { case (j, g) =>
        done.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.setJobGroup(g, "graft build write", interruptOnCancel = true)
            j()
          }
        })
      }
      jobs.indices.foreach { _ =>
        try done.take().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            groups.foreach(sc.cancelJobGroupAndFutureJobs)
            pool.shutdownNow()
            pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** pack posting tuples into canonical chunk rows — two stages:
    *
    *   A. narrow per-input-partition external sort (Spark's
    *      UnsafeExternalSorter supplies the memory-bounded spill RUM gets
    *      from maintenance_work_mem flushes, src/ruminsert.c:569-589) +
    *      streaming run pack: one delta+varbyte [[RunRow]] per
    *      (input partition, shard, term). The SHUFFLE then moves packed
    *      blocks, not (term, doc) rows.
    *   B. hash shuffle on (shard, term) + k-way merge of each cell's runs
    *      (the posting merge of src/rumdatapage.c:367-408) into final
    *      chunk rows, deduping equal docIds (first run in (firstDoc, seq)
    *      order wins). Single-run cells — every rare term — pass through
    *      without a decode/re-encode round-trip.
    *
    * Output is canonical: independent of the input partitioning, the same
    * corpus packs byte-identical chunks (rebuild/resume determinism).
    */
  /** Per-shard pack/merge wall time (nanos) harvested from stage-B tasks —
    * makes ShardMeta.buildMs a real per-shard metric instead of the job
    * wall stamped onto every shard. Task retries could double-count; the
    * metric is lineage/diagnostics, not billing.
    */
  private def newPackAcc(spark: SparkSession) =
    spark.sparkContext.collectionAccumulator[(Int, Long)]("graft.shardPackNanos")

  private def packAccMs(acc: org.apache.spark.util.CollectionAccumulator[(Int, Long)]): Map[Int, Long] = {
    val m = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    acc.value.forEach(e => m(e._1) += e._2)
    m.map { case (s, ns) => s -> math.max(1L, ns / 1000000L) }.toMap
  }

  /** Murmur3 preimage table for exact partition routing: preimage(d) is an
    * int whose Spark hash-partitioning bucket (murmur3 seed 42, pmod n) is
    * exactly d. Repartitioning on `element_at(preimages, target + 1)` then
    * routes each logical target to its OWN partition — Spark's DataFrame
    * API only exposes hash/range partitioning, and hashing the (shard,
    * term-bucket) pair directly would collide ~1/e of the buckets, spraying
    * every shard across many tasks (and partitionBy(shard) then writes one
    * FILE per (task, shard) pair — hundreds of KB-files per build).
    * Correctness never depends on the table being right: rows with equal
    * target always share a partition (the routing column is a pure function
    * of the target); a Spark-internal hash change would only degrade file
    * count/balance back to hashed behavior.
    */
  private[build] def hashPreimages(n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var found = 0
    val seen = new Array[Boolean](n)
    var x = 0
    while (found < n) {
      val d = Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), n)
      if (!seen(d)) { seen(d) = true; out(d) = x; found += 1 }
      x += 1
    }
    out
  }

  private[graft] def packDataset(spark: SparkSession, exploded: DataFrame,
                          params: Params, alt: Boolean = false,
                          packAcc: Option[org.apache.spark.util.CollectionAccumulator[(Int, Long)]] = None): Dataset[PostingRow] = {
    import spark.implicits._
    val blockSize = params.blockSize
    val maxChunk = params.maxPostingsPerChunk

    // alt layout: the block key slot holds the addon (non-decreasing, ties
    // = equal addons) and the addon slot holds the docId — the same
    // dataflow with the sort key flipped to (addon, docId)
    val sorted =
      if (alt)
        exploded.sortWithinPartitions("shard", "term", "addon", "docId")
          .select("shard", "term", "addon", "tf", "len", "pos", "docId")
      else
        exploded.sortWithinPartitions("shard", "term", "docId")
          .select("shard", "term", "docId", "tf", "len", "pos", "addon")

    // ---- stage A: map-side sorted-run pack (no shuffle) ----
    val runs: Dataset[RunRow] = sorted
      .as[(Int, String, Long, Int, Int, Array[Byte], Long)]
      .mapPartitions { it =>
        new Iterator[RunRow] {
          private var pending: List[RunRow] = Nil
          private var cur: (Int, String) = null
          private var builder: PostingListBuilder = null
          private var hasLast = false
          private var lastKey = Long.MinValue
          private var lastSub = Long.MinValue

          private def closeRun(): Unit = {
            if (builder != null && builder.totalDocs > 0) {
              val blocks = builder.result()
              pending ::= RunRow(cur._1, cur._2, blocks.head.firstDoc,
                blocks.map(_.n.toLong).sum, blocks.map(_.maxTf).max, blocks)
            }
            builder = new PostingListBuilder(blockSize, allowTies = alt)
          }

          private def fill(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (shard, term, key, tf, len, pos, sub) = it.next()
              if (cur == null || cur._1 != shard || cur._2 != term) {
                closeRun()
                cur = (shard, term)
                hasLast = false
              }
              // dedup keep-first, layout-aware to match mergeCells: primary
              // dedups on docId alone (a re-inserted doc with a changed addon
              // must not trip the builder's strictly-increasing key check),
              // alt dedups on the (addon, docId) composite
              val dup = hasLast &&
                (if (alt) key == lastKey && sub == lastSub else key == lastKey)
              if (!dup) {
                builder.add(key, tf, len, pos, sub)
                hasLast = true
                lastKey = key
                lastSub = sub
              }
            }
            if (pending.isEmpty && !it.hasNext && builder != null && builder.totalDocs > 0)
              closeRun()
          }

          def hasNext: Boolean = { fill(); pending.nonEmpty }
          def next(): RunRow = { fill(); val h = pending.head; pending = pending.tail; h }
        }
      }

    // ---- stage B: shuffle packed runs, merge each (shard, term) cell ----
    // SHARD-PURE partitioning (see shardRouting): every (shard, termBucket)
    // slice lands in exactly one task — a task holds one slice when
    // nShards ≤ p and ⌈nShards/p⌉ whole shards otherwise — so the
    // partitionBy(shard) write emits exactly one well-sized file per slice
    // (instead of one per (task, shard) pair), merge parallelism stays ≥ p
    // via the term sub-bucket when nShards < p, and shards are uniform by
    // construction (shard = hash(docId)) so the tasks balance. The
    // per-partition sort stays Spark's external sort (memory-bounded spill).
    val (nPart, pid) = shardRouting(spark, params, byTerm = true)
    runs
      .repartition(nPart, pid)
      .sortWithinPartitions("shard", "term", "firstDoc")
      .mapPartitions(it => mergeCells(it, blockSize, maxChunk, alt, packAcc))
  }

  /** Merge consecutive same-(shard,term) runs into canonical chunk rows. */
  private def mergeCells(it: Iterator[RunRow], blockSize: Int,
                         maxChunk: Int, alt: Boolean = false,
                         packAcc: Option[org.apache.spark.util.CollectionAccumulator[(Int, Long)]] = None): Iterator[PostingRow] = {
    val runsIt = it.buffered
    new Iterator[PostingRow] {
      private var pending: List[PostingRow] = Nil
      private val perShard = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      private var flushedAcc = false

      private def emit(shard: Int, term: String, runs: Seq[RunRow]): List[PostingRow] = {
        // fast path: one run, fits one chunk — reuse packed blocks verbatim
        if (runs.length == 1 && runs.head.ndocs <= maxChunk) {
          val r = runs.head
          return List(PostingRow(shard, term, 0, r.ndocs, r.maxTf, r.blocks))
        }
        // k-way merge: min key across cursors (alt: min (key, sub)
        // composite); ties keep the earliest run in (firstDoc, arrival)
        // order and skip the rest (dedup keep-first; primary dedups on
        // docId alone — equal docIds are re-inserts of the same doc)
        val cursors = runs.map(r => new PostingCursor(Iterator(r.blocks))).toArray
        val out = scala.collection.mutable.ListBuffer.empty[PostingRow]
        var chunkIdx = 0
        var builder = new PostingListBuilder(blockSize, allowTies = alt)
        var nInChunk = 0
        def flushChunk(): Unit = {
          if (builder.totalDocs > 0) {
            val blocks = builder.result()
            out += PostingRow(shard, term, chunkIdx,
              blocks.map(_.n.toLong).sum, blocks.map(_.maxTf).max, blocks)
            chunkIdx += 1
          }
          builder = new PostingListBuilder(blockSize, allowTies = alt)
          nInChunk = 0
        }
        var hasLast = false
        var lastKey = Long.MinValue
        var lastSub = Long.MinValue
        while (cursors.exists(!_.done)) {
          var minIdx = -1
          var minKey = Long.MaxValue
          var minSub = Long.MaxValue
          var i = 0
          while (i < cursors.length) {
            val cu = cursors(i)
            if (!cu.done && (minIdx < 0 || cu.docId < minKey ||
                (alt && cu.docId == minKey && cu.addon < minSub))) {
              minKey = cu.docId; minSub = cu.addon; minIdx = i
            }
            i += 1
          }
          val c = cursors(minIdx)
          val dup = hasLast &&
            (if (alt) minKey == lastKey && c.addon == lastSub else minKey == lastKey)
          if (!dup) {
            builder.add(minKey, c.tf, c.docLen, c.rawPositions, c.addon)
            hasLast = true
            lastKey = minKey
            lastSub = c.addon
            nInChunk += 1
            if (nInChunk >= maxChunk) flushChunk()
          }
          c.next()
        }
        flushChunk()
        out.toList
      }

      private def fill(): Unit = {
        while (pending.isEmpty && runsIt.hasNext) {
          val t0 = System.nanoTime()
          val head = runsIt.next()
          val cell = scala.collection.mutable.ArrayBuffer(head)
          while (runsIt.hasNext && runsIt.head.shard == head.shard &&
                 runsIt.head.term == head.term)
            cell += runsIt.next()
          pending = emit(head.shard, head.term, cell.toSeq)
          if (packAcc.isDefined) perShard(head.shard) += System.nanoTime() - t0
        }
        if (pending.isEmpty && !runsIt.hasNext && !flushedAcc) {
          flushedAcc = true
          packAcc.foreach(a => perShard.foreach { case (s, ns) => a.add((s, ns)) })
        }
      }

      def hasNext: Boolean = { fill(); pending.nonEmpty }
      def next(): PostingRow = { fill(); val h = pending.head; pending = pending.tail; h }
    }
  }

  /** Recompute global stats + per-shard metrics + manifest over all shards
    * on disk — ONE heavy pass over the postings (grouped to (shard, term)
    * cells, then two micro re-aggregations), not one per output.
    */
  /** `shardMs`: real per-shard pack/merge wall ms (from the stage-B
    * accumulator); shards without a measurement fall back to the job wall.
    */
  /** `docsDS`: when the caller just WROTE the docs dataset and still holds
    * it persisted (fresh build / compact), the totals aggregate the
    * in-memory copy instead of re-reading the files it just wrote — the
    * committed listing covers exactly those rows by construction. Appends
    * pass None (their totals span old + new files).
    */
  private def refresh(spark: SparkSession, indexDir: String, params: Params,
                      buildMs: Long, lineage: String,
                      lastBatchId: Long = -1L, fields: String = "",
                      dataFiles: Map[String, List[String]] = Map.empty,
                      shardMs: Map[Int, Long] = Map.empty,
                      appendRuns: Int = 0,
                      keepOld: Boolean = false,
                      docsDS: Option[DataFrame] = None): IndexMeta = {
    // top-level ndocs/maxTf columns mean this pass never touches the fat
    // `blocks` column — parquet column pruning keeps the stats refresh a
    // metadata-sized read, not a full index re-read. Explicit schemas keep
    // the zero-file case (buildempty) readable; reads go through the
    // file listing being committed, so orphans never enter the stats.
    val allPostings = readFiles(spark, SegmentCatalog.postingsDir(indexDir),
        dataFiles.get("postings"), schemaOf("postings"))
      .select("shard", "term", "ndocs", "maxTf")
    // stats are APPENDED next to the previous generation and only the new
    // files enter the manifest; the old generation is deleted AFTER the
    // manifest commit (below) — a crash in between strands orphans (gc'd
    // later), never a manifest pointing at deleted files.
    // Two direct aggregations over the pruned scan (term-level stats,
    // per-shard metrics) — the scan reads only header columns of nShards
    // files, so re-scanning beats materializing a (shard, term) cell table
    // between them.
    val statsDirPath = SegmentCatalog.statsDir(indexDir)
    val statsBefore = listParquet(statsDirPath)
    val now = System.currentTimeMillis()
    // the three refresh actions (term-stats write, per-shard metrics, docs
    // totals) are independent jobs over pruned scans — run them from a
    // small driver pool so the refresh pays max(job), not sum(job)
    // (guide §2.6: FIFO back-fills one job's task tail with the next's)
    var shardsMeta: List[ShardMeta] = Nil
    var numDocs = 0L
    var totalTokens = 0L
    runConcurrently(spark, Seq(
      () => allPostings.groupBy("term")
        .agg(sum("ndocs").as("df"), max("maxTf").as("maxTf"))
        .write.mode("append").parquet(statsDirPath),
      () => shardsMeta = allPostings.groupBy("shard")
        .agg(countDistinct("term").as("terms"), count(lit(1)).as("rows"),
          sum("ndocs").as("postings"))
        .collect()
        .map(r => ShardMeta(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          shardMs.getOrElse(r.getInt(0), buildMs), now))
        .toList,
      () => {
        val allDocs = docsDS.getOrElse(
          readFiles(spark, SegmentCatalog.docsDir(indexDir),
            dataFiles.get("docs"), schemaOf("docs")))
        val r = allDocs.agg(count(lit(1)), coalesce(sum("len"), lit(0L))).head()
        numDocs = r.getLong(0); totalTokens = r.getLong(1)
      }))
    val statsNew = listParquet(statsDirPath).filterNot(statsBefore.toSet)

    val meta = IndexMeta(
      formatVersion = CurrentFormat,
      numDocs = numDocs,
      totalTokens = totalTokens,
      avgLen = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs,
      nShards = params.nShards,
      blockSize = params.blockSize,
      maxPostingsPerChunk = params.maxPostingsPerChunk,
      tokenizer = params.tokenizer,
      attachCol = params.attach.getOrElse(""),
      inputLineage = lineage,
      paramsHash = params.hash,
      shards = shardsMeta.sortBy(_.shard),
      lastBatchId = lastBatchId,
      keyKind = params.keyKind,
      altOrder = params.altOrder,
      fields = fields,
      appendRuns = appendRuns,
      dataFiles = dataFiles + ("stats" -> statsNew))
    SegmentCatalog.save(indexDir, meta)
    if (!keepOld)
      statsBefore.foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(statsDirPath, f)))
    meta
  }

  /** Build (or resume) the index for `corpus` into `indexDir`.
    *
    * Contract: docIds must be unique. Duplicate docIds are tolerated
    * keep-first PER LAYOUT — the primary layout dedups on docId, the
    * alt-order layout on the (addon, docId) composite — so a duplicate
    * carrying a different addon leaves the two layouts divergent (alt
    * ordered scans would surface both addon values). [[validate]] flags
    * this as an alt/primary posting-count mismatch; dedup the input when
    * in doubt.
    */
  def build(spark: SparkSession, corpus: DataFrame, docIdCol: String, textCol: String,
            indexDir: String, params: Params = Params(), resume: Boolean = false): IndexMeta = {
    requireValid(params)
    val t0 = System.currentTimeMillis()
    val prior: Option[IndexMeta] =
      if (resume) SegmentCatalog.load(indexDir).map { m =>
        require(m.paramsHash == params.hash,
          s"resume with different params: ${m.paramsHash} vs ${params.hash}")
        m
      } else None
    val committed: Set[Int] = prior.map(_.committedShards).getOrElse(Set.empty)
    val remaining = (0 until params.nShards).filterNot(committed)

    val base = normalize(corpus, docIdCol, textCol, params)
    val todo =
      if (committed.isEmpty) base
      else base.where(col("shard").isin(remaining: _*))

    // Idempotent restart: data files of shards NOT in the manifest are
    // leftovers of an interrupted run — remove before (re)writing so the
    // shard write is exactly-once (manifest commit is the visibility point,
    // Iceberg-snapshot style).
    if (!resume) {
      deleteRecursively(SegmentCatalog.postingsDir(indexDir))
      deleteRecursively(SegmentCatalog.altDir(indexDir))
      deleteRecursively(SegmentCatalog.docsDir(indexDir))
      deleteRecursively(SegmentCatalog.statsDir(indexDir))
    } else {
      remaining.foreach { s =>
        deleteRecursively(s"${SegmentCatalog.postingsDir(indexDir)}/shard=$s")
        deleteRecursively(s"${SegmentCatalog.altDir(indexDir)}/shard=$s")
        deleteRecursively(s"${SegmentCatalog.docsDir(indexDir)}/shard=$s")
      }
    }

    // env-gated phase timing (diagnostics only): SPARK_GRAFT_BUILD_PHASES=1
    // prints per-phase wall seconds to stderr
    val tPhase = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def phase(name: String): Unit =
      if (sys.env.contains("SPARK_GRAFT_BUILD_PHASES")) {
        val now = System.nanoTime()
        val prev = tPhase.getAndSet(now)
        System.err.println(f"[build-phase] $name: ${(now - prev) / 1e9}%.3fs")
      }
    val packAcc = newPackAcc(spark)
    // tokenize ONCE: the exploded posting tuples are materialized and all
    // downstream consumers (primary pack, alt-order pack, docs table) read
    // the materialized copy instead of re-running corpus read + tokenizer
    // per pass — at scale this is the ingest pipeline's "write the
    // tokenized table once" materialization (spills to disk under memory
    // pressure via the default MEMORY_AND_DISK level)
    var docsOpt: Option[DataFrame] = None
    val exploded = explodedOf(todo, params).persist()
    try {
      if (remaining.nonEmpty) {
        phase("setup")
        // diagnostics only: isolate tokenize+cache-materialization cost
        if (sys.env.contains("SPARK_GRAFT_BUILD_PHASES")) {
          exploded.count()
          phase("tokenize+cache materialization")
        }
        // docs table: the exploded tuples' first-entry rows — no second
        // corpus read; see docsFromExploded
        val docsDF = docsFromExploded(exploded, params).persist()
        docsOpt = Some(docsDF)
        // the three writes are independent jobs over the shared tuple
        // cache (different output directories) — run them concurrently so
        // the build pays max(write), not sum(write)
        runConcurrently(spark, Seq(
          () => packDataset(spark, exploded, params, packAcc = Some(packAcc))
            .write.mode("append").partitionBy("shard")
            .parquet(SegmentCatalog.postingsDir(indexDir))) ++
          (if (params.altOrder)
            Seq(() => packDataset(spark, exploded, params, alt = true,
                packAcc = Some(packAcc))
              .write.mode("append").partitionBy("shard")
              .parquet(SegmentCatalog.altDir(indexDir)))
          else Nil) ++
          Seq(() => docsDF.write.mode("append").partitionBy("shard")
            .parquet(SegmentCatalog.docsDir(indexDir))))
        phase("layout+docs writes (concurrent)")
      }

      val buildMs = System.currentTimeMillis() - t0
      val lineage = corpus.queryExecution.logical.toString.linesIterator.take(1).mkString
      // committed (resumed-over) shards keep their prior per-shard timing
      val priorMs = prior.map(_.shards.map(s => s.shard -> s.buildMs).toMap)
        .getOrElse(Map.empty[Int, Long])
      // the in-memory copies stand in for the committed files only when this
      // build wrote EVERYTHING (fresh build); resumed builds span prior +
      // new files and read through the listing
      val fullWrite = committed.isEmpty && remaining.nonEmpty
      val committedMeta = refresh(spark, indexDir, params, buildMs, lineage,
        dataFiles = currentListing(indexDir, params),
        shardMs = priorMs ++ packAccMs(packAcc),
        docsDS = if (fullWrite) docsOpt else None)
      phase("refresh (stats+manifest)")
      committedMeta
    } finally {
      exploded.unpersist(blocking = false)
      docsOpt.foreach(_.unpersist(blocking = false))
    }
  }

  /** Full on-disk listing — valid when the writer owns the directories
    * (fresh build / resume with uncommitted shards wiped / post-compact).
    */
  private def currentListing(indexDir: String, params: Params): Map[String, List[String]] =
    Map(
      "postings" -> listParquet(SegmentCatalog.postingsDir(indexDir)),
      "docs" -> listParquet(SegmentCatalog.docsDir(indexDir))) ++
      (if (params.altOrder) Map("alt" -> listParquet(SegmentCatalog.altDir(indexDir)))
       else Map.empty)

  /** Multi-column build — one index over several text columns with
    * field-prefixed keys (the attnum key prefix of the reference's
    * multicolumn support, src/rumutil.c:266-288; tests
    * sql/orderby.sql:89-106). Queries go through
    * [[graft.search.Searcher.compileMulti]], which ANDs per-field tsqueries
    * into one kernel pass. Doc length = total tokens across fields.
    * Incremental append is not supported on multi-column indexes (rebuild
    * or compact instead); delete/compact work transparently since the
    * field prefix rides inside the key.
    */
  def buildFields(spark: SparkSession, corpus: DataFrame, docIdCol: String,
                  fields: Seq[(String, String)], indexDir: String,
                  params: Params = Params()): IndexMeta = {
    require(fields.nonEmpty, "need at least one (field, column)")
    requireValid(params)
    val t0 = System.currentTimeMillis()
    deleteRecursively(SegmentCatalog.postingsDir(indexDir))
    deleteRecursively(SegmentCatalog.altDir(indexDir))
    deleteRecursively(SegmentCatalog.docsDir(indexDir))
    deleteRecursively(SegmentCatalog.statsDir(indexDir))

    // tokenize each field ONCE (persisted): primary pack, alt pack and the
    // docs table all read the materialized tuples — without this an
    // alt-order multicolumn build tokenizes every field three times
    val exploded = fields.map { case (fname, colName) =>
      explodedOf(normalize(corpus, docIdCol, colName, params), params,
        keyPrefix = fname + FieldSep)
    }.reduce(_ unionAll _).persist()
    val packAcc = newPackAcc(spark)
    var docsOpt: Option[DataFrame] = None
    try {
      // docs table from the tuples' first-entry rows (one per doc PER
      // FIELD, each carrying its field's len/uniq): summing over fields
      // gives total tokens and total distinct keys — a term in two fields
      // is two distinct keys, so the per-field counts sum by construction
      val docsDF = exploded.where(col("uniq") >= 0)
        .groupBy(col("shard"), col("docId"))
        .agg(sum("len").cast("int").as("len"), max("addon").as("addon"),
          sum("uniq").cast("int").as("uniq"))
        .select("shard", "docId", "len", "addon", "uniq")
        .transform(shardPure(_, params))
        .persist()
      docsOpt = Some(docsDF)
      runConcurrently(spark, Seq(
        () => packDataset(spark, exploded, params, packAcc = Some(packAcc))
          .write.mode("append").partitionBy("shard")
          .parquet(SegmentCatalog.postingsDir(indexDir))) ++
        (if (params.altOrder)
          Seq(() => packDataset(spark, exploded, params, alt = true,
              packAcc = Some(packAcc))
            .write.mode("append").partitionBy("shard")
            .parquet(SegmentCatalog.altDir(indexDir)))
        else Nil) ++
        Seq(() => docsDF.write.mode("append").partitionBy("shard")
          .parquet(SegmentCatalog.docsDir(indexDir))))

      val buildMs = System.currentTimeMillis() - t0
      val lineage = s"multicol(${fields.map(_._1).mkString(",")})"
      refresh(spark, indexDir, params, buildMs, lineage,
        fields = fields.map(_._1).mkString(","),
        dataFiles = currentListing(indexDir, params),
        shardMs = packAccMs(packAcc), docsDS = docsOpt)
    } finally {
      exploded.unpersist(blocking = false)
      docsOpt.foreach(_.unpersist(blocking = false))
    }
  }

  /** Default auto-compaction threshold: once this many micro-segment
    * appends have accumulated since the last full-layout rewrite, the next
    * append triggers [[compact]] (size-tiered policy — the reference's
    * automatic pending-list cleanup, src/rumvacuum.c:751-846). 0 disables.
    * Bounds query-side run-merge work to O(threshold) overlapping runs per
    * (shard, term) cell regardless of append count. The rewrite follows
    * compact's commit-before-delete protocol, so a crash at any point
    * leaves a manifest whose files all exist; NEW readers are isolated
    * throughout. A long-lived reader pinned to the pre-compact manifest
    * loses its files once the post-commit cleanup runs — deployments
    * serving from open Searchers alongside streaming ingest should compact
    * manually with `retainOld = true` (and gcOrphans later) instead.
    */
  val AutoCompactRuns = 8

  /** Incremental insert: append a micro-segment per shard for new docs
    * (ruminsert path). New docIds must not already exist in the index
    * (replacements: delete first). Query-side merges overlapping chunk
    * ranges; once `autoCompactRuns` appends accumulate, the commit itself
    * runs [[compact]] to restore single-run layout (pass 0 to manage
    * compaction manually).
    */
  def append(spark: SparkSession, newCorpus: DataFrame, docIdCol: String,
             textCol: String, indexDir: String, batchId: Long = -1L,
             autoCompactRuns: Int = AutoCompactRuns): IndexMeta = {
    val meta = SegmentCatalog.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $indexDir"))
    requireFormat(meta)
    require(meta.fields.isEmpty,
      s"multi-column index (fields=${meta.fields}): use appendFields")
    val params = paramsOf(meta)
    val todo = normalize(newCorpus, docIdCol, textCol, params)
    val cntUdf = udf(tokenCountFn(params.tokenizer))
    val uniqUdf = udf(uniqueCountFn(params.tokenizer))
    val docsDF = todo.select(col("shard"), col("docId"), cntUdf(col("text")).as("len"),
      col("addon"), uniqUdf(col("text")).as("uniq"))
    commitAppend(spark, indexDir, meta, params, explodedOf(todo, params), docsDF,
      s"append(${newCorpus.queryExecution.logical.toString.linesIterator.take(1).mkString})",
      batchId, autoCompactRuns)
  }

  /** Incremental insert into a multi-column index — same micro-segment
    * append with field-prefixed keys; the (field, column) mapping must
    * match the build's field names.
    */
  def appendFields(spark: SparkSession, newCorpus: DataFrame, docIdCol: String,
                   fields: Seq[(String, String)], indexDir: String,
                   batchId: Long = -1L,
                   autoCompactRuns: Int = AutoCompactRuns): IndexMeta = {
    val meta = SegmentCatalog.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $indexDir"))
    requireFormat(meta)
    require(meta.fields == fields.map(_._1).mkString(","),
      s"field mismatch: index has '${meta.fields}', got ${fields.map(_._1)}")
    val params = paramsOf(meta)
    val exploded = fields.map { case (fname, colName) =>
      explodedOf(normalize(newCorpus, docIdCol, colName, params), params,
        keyPrefix = fname + FieldSep)
    }.reduce(_ unionAll _)
    val cntUdf = udf(tokenCountFn(params.tokenizer))
    val uniqUdf = udf(uniqueCountFn(params.tokenizer))
    val addonCol = addonColOf(params.attach, col(docIdCol).cast("long"))
    val docsDF = newCorpus
      .select(docIdColOf(docIdCol),
        fields.map { case (_, c) => cntUdf(col(c)) }.reduce(_ + _).as("len"), addonCol,
        fields.map { case (_, c) => uniqUdf(col(c)) }.reduce(_ + _).as("uniq"))
      .withColumn("shard", pmod(xxhash64(col("docId")), lit(params.nShards)).cast("int"))
      .select("shard", "docId", "len", "addon", "uniq")
    commitAppend(spark, indexDir, meta, params, exploded, docsDF,
      s"appendFields(${fields.map(_._1).mkString(",")})", batchId, autoCompactRuns)
  }

  /** Shared micro-segment commit: pack+write postings (and alt copy),
    * write docs, and commit the prior listing + exactly this write's new
    * files — a crashed earlier append's orphan part files (written but
    * never manifested) stay invisible forever.
    */
  private def commitAppend(spark: SparkSession, indexDir: String, meta: IndexMeta,
                           params: Params, exploded: DataFrame, docsDF: DataFrame,
                           lineage: String, batchId: Long,
                           autoCompactRuns: Int): IndexMeta = {
    val t0 = System.currentTimeMillis()
    def before(kind: String): (Set[String], List[String]) = {
      val disk = listParquet(datasetDir(indexDir, kind)).toSet
      (disk, meta.dataFiles.getOrElse(kind, disk.toList))
    }
    val (postDisk, postCommitted) = before("postings")
    val (altDisk, altCommitted) = before("alt")
    val (docsDisk, docsCommitted) = before("docs")

    val packAcc = newPackAcc(spark)
    // micro-batch tuples are tokenized once and shared by both layout packs
    // (appends on alt-order indexes would otherwise tokenize twice)
    val shared = if (params.altOrder) exploded.persist() else exploded
    try {
      runConcurrently(spark, Seq(
        () => packDataset(spark, shared, params, packAcc = Some(packAcc))
          .write.mode("append").partitionBy("shard")
          .parquet(SegmentCatalog.postingsDir(indexDir))) ++
        (if (params.altOrder)
          Seq(() => packDataset(spark, shared, params, alt = true,
              packAcc = Some(packAcc))
            .write.mode("append").partitionBy("shard")
            .parquet(SegmentCatalog.altDir(indexDir)))
        else Nil) ++
        Seq(() => shardPure(docsDF, params).write.mode("append")
          .partitionBy("shard").parquet(SegmentCatalog.docsDir(indexDir))))
    } finally if (params.altOrder) shared.unpersist(blocking = false)

    val dataFiles = Map(
      "postings" -> (postCommitted ++
        listParquet(SegmentCatalog.postingsDir(indexDir)).filterNot(postDisk)),
      "docs" -> (docsCommitted ++
        listParquet(SegmentCatalog.docsDir(indexDir)).filterNot(docsDisk))) ++
      (if (params.altOrder)
        Map("alt" -> (altCommitted ++
          listParquet(SegmentCatalog.altDir(indexDir)).filterNot(altDisk)))
       else Map.empty)

    val buildMs = System.currentTimeMillis() - t0
    // per-shard timing accumulates across appends (prior + this delta)
    val priorMs = meta.shards.map(s => s.shard -> s.buildMs).toMap
    val delta = packAccMs(packAcc)
    val combined = priorMs ++ delta.map { case (s, ms) => s -> (priorMs.getOrElse(s, 0L) + ms) }
    val committed = refresh(spark, indexDir, params, buildMs, lineage,
      lastBatchId = math.max(meta.lastBatchId, batchId), fields = meta.fields,
      dataFiles = dataFiles, shardMs = combined, appendRuns = meta.appendRuns + 1)
    // size-tiered auto-compaction: the append itself is already durable via
    // the manifest above, so a crash mid-compact loses only the rewrite —
    // appendRuns stays above threshold and the next append retries it
    if (autoCompactRuns > 0 && committed.appendRuns >= autoCompactRuns)
      compact(spark, indexDir)
    else committed
  }

  /** Garbage-collect data files not covered by the manifest listing —
    * orphans left by crashed or replayed writes (harmless but dead bytes).
    * Safe under the single-writer model: anything unlisted is invisible to
    * every reader. Returns the deleted relative paths per dataset.
    */
  def gcOrphans(indexDir: String): Map[String, List[String]] = {
    val meta = SegmentCatalog.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $indexDir"))
    Seq("postings", "alt", "docs", "stats").map { kind =>
      val dir = datasetDir(indexDir, kind)
      val listed = meta.dataFiles.getOrElse(kind, Nil).toSet
      val removed =
        if (!meta.dataFiles.contains(kind)) Nil // legacy manifest: no listing, keep all
        else listParquet(dir).filterNot(listed).map { f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, f))
          f
        }
      kind -> removed
    }.toMap.filter(_._2.nonEmpty)
  }

  /** Index validation — the amvalidate analogue (reference:
    * src/rumvalidate.c:35-353 checks opclass completeness; here the
    * invariants are over segment tables): manifest completeness, listed
    * data files present on disk, per-shard metrics consistent with the
    * postings actually readable, global stats consistent with docs, and
    * per-block structural invariants. Returns violations (empty = valid).
    */
  def validate(spark: SparkSession, indexDir: String): List[String] = {
    import spark.implicits._
    val issues = scala.collection.mutable.ListBuffer.empty[String]
    val metaOpt = SegmentCatalog.load(indexDir)
    if (metaOpt.isEmpty) return List("no manifest")
    val meta = metaOpt.get
    // a down-versioned layout can't be schema-checked further: report and stop
    if (meta.formatVersion != CurrentFormat)
      return List(s"format version ${meta.formatVersion} (current $CurrentFormat): rebuild required")
    if (!meta.isComplete)
      issues += s"incomplete: shards ${meta.committedShards.toList.sorted} of ${meta.nShards}"

    meta.dataFiles.foreach { case (kind, files) =>
      val dir = datasetDir(indexDir, kind)
      files.foreach { f =>
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f)))
          issues += s"missing $kind file: $f"
      }
    }
    // read-based checks go through the surviving files so a missing file
    // is reported (above) rather than thrown
    val readable = meta.copy(dataFiles = meta.dataFiles.map { case (k, fs) =>
      k -> fs.filter(f => java.nio.file.Files.exists(
        java.nio.file.Paths.get(datasetDir(indexDir, k), f)))
    })

    // per-shard metrics vs readable postings
    val cells = readDataset(spark, indexDir, readable, "postings")
      .select("shard", "term", "ndocs")
      .groupBy("shard")
      .agg(countDistinct("term").as("terms"), count(lit(1)).as("rows"),
        sum("ndocs").as("postings"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    meta.shards.foreach { s =>
      cells.get(s.shard) match {
        case None => if (s.postings > 0) issues += s"shard ${s.shard}: no postings on disk"
        case Some((terms, rows, postings)) =>
          if (terms != s.terms || rows != s.chunkRows || postings != s.postings)
            issues += s"shard ${s.shard}: manifest (${s.terms},${s.chunkRows},${s.postings}) " +
              s"vs disk ($terms,$rows,$postings)"
      }
    }
    if (cells.keySet.exists(sh => sh < 0 || sh >= meta.nShards))
      issues += s"shard ids out of range: ${cells.keySet.filter(sh => sh < 0 || sh >= meta.nShards)}"

    // docs vs global stats
    val docsDF = readDataset(spark, indexDir, readable, "docs")
    val dr = docsDF.agg(count(lit(1)), coalesce(sum("len"), lit(0L))).head()
    if (dr.getLong(0) != meta.numDocs)
      issues += s"numDocs ${meta.numDocs} vs docs table ${dr.getLong(0)}"
    if (dr.getLong(1) != meta.totalTokens)
      issues += s"totalTokens ${meta.totalTokens} vs docs table ${dr.getLong(1)}"

    // structural block invariants (full pass over headers, no payload decode)
    val bad = readDataset(spark, indexDir, readable, "postings").as[PostingRow]
      .flatMap { r =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        if (r.blocks.isEmpty) out += s"term ${r.term}: empty chunk"
        r.blocks.foreach { b =>
          if (b.n <= 0 || b.firstDoc > b.lastDoc)
            out += s"term ${r.term}: bad block header (n=${b.n}, ${b.firstDoc}..${b.lastDoc})"
        }
        var i = 1
        while (i < r.blocks.length) {
          if (r.blocks(i).firstDoc <= r.blocks(i - 1).lastDoc)
            out += s"term ${r.term}: non-ascending blocks at $i"
          i += 1
        }
        out.iterator
      }.take(20)
    issues ++= bad

    // alt-order layout: same header invariants with ties allowed (the key
    // slot holds addons — equal addons are legal), and the two layouts
    // must carry the SAME posting multiset size per term
    if (meta.altOrder) {
      val badAlt = readDataset(spark, indexDir, readable, "alt").as[PostingRow]
        .flatMap { r =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          if (r.blocks.isEmpty) out += s"alt ${r.term}: empty chunk"
          r.blocks.foreach { b =>
            if (b.n <= 0 || b.firstDoc > b.lastDoc)
              out += s"alt ${r.term}: bad block header (n=${b.n}, ${b.firstDoc}..${b.lastDoc})"
          }
          var i = 1
          while (i < r.blocks.length) {
            if (r.blocks(i).firstDoc < r.blocks(i - 1).lastDoc)
              out += s"alt ${r.term}: decreasing blocks at $i"
            i += 1
          }
          out.iterator
        }.take(20)
      issues ++= badAlt
      val primTotals = readDataset(spark, indexDir, readable, "postings")
        .groupBy("term").agg(sum("ndocs").as("n"))
      val altTotals = readDataset(spark, indexDir, readable, "alt")
        .groupBy("term").agg(sum("ndocs").as("n"))
      val mismatched = primTotals.join(altTotals, Seq("term"), "full_outer")
        .where(primTotals("n") =!= altTotals("n") ||
          primTotals("n").isNull || altTotals("n").isNull)
        .select(col("term")).as[String].take(20)
      mismatched.foreach(t => issues += s"alt/primary posting count mismatch: term $t")
    }
    issues.toList
  }

  /** Delete docs by id — the vacuum/bulkdelete path (src/rumvacuum.c):
    * postings are decoded, anti-joined against the delete set and
    * repacked. Implemented as [[compact]] with an exclusion set.
    */
  def delete(spark: SparkSession, indexDir: String, deleteIds: DataFrame): IndexMeta =
    compact(spark, indexDir, Some(deleteIds))

  /** Rewrite all segments into single-run layout (merging micro-segments),
    * optionally excluding docIds. No re-tokenization: stored payloads are
    * carried through (the posting merge of src/rumdatapage.c:367-408 at
    * segment scale).
    *
    * Commit protocol (crash-safe, Iceberg-snapshot style): the compacted
    * generation is written as NEW part files next to the old ones, the
    * manifest listing exactly the new files is committed atomically, and
    * only THEN are the old generation's files deleted. A crash at any
    * point leaves a manifest whose files all exist — before the commit it
    * still lists the old generation (new files are invisible orphans,
    * reclaimed by [[gcOrphans]]); after it, stranded old files are the
    * orphans. With `retainOld = true` the old generation is kept on disk
    * so ALREADY-OPEN readers pinned to the pre-compact manifest keep
    * working (long-lived Searchers serving alongside streaming ingest);
    * call [[gcOrphans]] once they have rotated. With the default
    * `retainOld = false` the old files are deleted immediately after the
    * commit — new readers are unaffected, but a reader still holding the
    * pre-compact manifest will miss its files.
    */
  def compact(spark: SparkSession, indexDir: String,
              exclude: Option[DataFrame] = None,
              retainOld: Boolean = false): IndexMeta = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val meta = SegmentCatalog.load(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $indexDir"))
    requireFormat(meta)
    val params = paramsOf(meta)

    val decoded: DataFrame = readDataset(spark, indexDir, meta, "postings")
      .as[PostingRow]
      .flatMap { row =>
        val cur = new PostingCursor(Iterator(row.blocks))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, Long, Int, Int, Array[Byte], Long)]
        while (!cur.done) {
          out += ((row.shard, row.term, cur.docId, cur.tf, cur.docLen, cur.rawPositions, cur.addon))
          cur.next()
        }
        out.iterator
      }.toDF("shard", "term", "docId", "tf", "len", "pos", "addon")

    val excludeIds = exclude.map(df => df.select(col(df.columns.head).cast("long").as("docId")))
    val kept0 = excludeIds match {
      case Some(ids) => decoded.join(ids, Seq("docId"), "left_anti")
      case None => decoded
    }
    // alt-order compacts consume the decoded stream twice (one pack per
    // layout): materialize the decode once instead of re-reading + re-
    // decoding the whole old generation for the second pack
    val kept = if (params.altOrder) kept0.persist() else kept0

    val packAcc = newPackAcc(spark)
    // new generation is APPENDED next to the old files (unique part names);
    // reads go through the pre-compact manifest listing, so the concurrent
    // append is invisible to them
    val kinds = Seq("postings", "docs") ++ (if (params.altOrder) Seq("alt") else Nil)
    val before: Map[String, Set[String]] =
      kinds.map(k => k -> listParquet(datasetDir(indexDir, k)).toSet).toMap

    packDataset(spark, kept, params, packAcc = Some(packAcc))
      .write.mode("append").partitionBy("shard")
      .parquet(SegmentCatalog.postingsDir(indexDir))
    if (params.altOrder)
      packDataset(spark, kept, params, alt = true, packAcc = Some(packAcc))
        .write.mode("append").partitionBy("shard")
        .parquet(SegmentCatalog.altDir(indexDir))
    val docs = readDataset(spark, indexDir, meta, "docs")
    val keptDocs = (excludeIds match {
      case Some(ids) => docs.join(ids, Seq("docId"), "left_anti")
      case None => docs
    }).select("shard", "docId", "len", "addon", "uniq").persist()
    shardPure(keptDocs.select("docId", "len", "addon", "uniq", "shard"), params)
      .write.mode("append").partitionBy("shard")
      .parquet(SegmentCatalog.docsDir(indexDir))

    if (params.altOrder) kept.unpersist(blocking = false)
    val newFiles: Map[String, List[String]] = kinds.map(k =>
      k -> listParquet(datasetDir(indexDir, k)).filterNot(before(k))).toMap

    // COMMIT: manifest lists exactly the new generation (atomic move); the
    // docs totals aggregate the still-persisted kept-docs copy
    val buildMs = System.currentTimeMillis() - t0
    val committed = refresh(spark, indexDir, params, buildMs,
      s"compact(exclude=${exclude.isDefined})",
      lastBatchId = meta.lastBatchId, fields = meta.fields,
      dataFiles = newFiles, shardMs = packAccMs(packAcc), keepOld = retainOld,
      docsDS = Some(keptDocs))
    keptDocs.unpersist(blocking = false)

    // only after the commit is durable does the old generation go away
    if (!retainOld)
      kinds.foreach { k =>
        val dir = datasetDir(indexDir, k)
        before(k).foreach(f =>
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, f)))
      }
    committed
  }
}
