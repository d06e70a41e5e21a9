package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.IndexBuilder
import graft.search.Searcher

/** Driver contract — each `queries` entry returns a DataFrame over the
  * parquet tables in `sfDir`; `oracleSql` holds the equivalent DuckDB SQL
  * over the same tables. Column names/aliases match pairwise.
  *
  * Tokenization contract shared by both sides: tokens are maximal
  * `[a-z0-9]+` runs of the lowercased text, positions are 1-based ordinals
  * (Spark: graft.tokenize.Tokenizer.simpleTokens; DuckDB:
  * regexp_extract_all + lateral unnest(range)).
  */
object SparkEntry {

  // ------------------------------------------------------------------
  // shared helpers
  // ------------------------------------------------------------------

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Native (codegen'd) twin of Tokenizer.simpleTokens — the tokenization
    * contract is exactly this regex, so the built-in is definitionally safe
    * and avoids a ScalaUDF node in every non-index query plan.
    */
  private def tokArray(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** (doc_id, term, pos) token table, 1-based positions — tokenized ONCE
    * per corpus and cached (the ingest-time materialization a training
    * pipeline would persist; ~8 dedup/text queries reuse it).
    */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    MatCache.get(s"$dir#tokens", documents(s, dir)
      .select(col("doc_id"), posexplode(tokArray(col("text"))).as(Seq("pos0", "term")))
      .select(col("doc_id"), col("term"), (col("pos0") + 1).as("pos")))

  /** 3-token shingles per doc: (doc_id, pos, sh) — cached like tokens. */
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = tokens(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#shingles", toks
      .withColumn("t2", lead("term", 1).over(w))
      .withColumn("t3", lead("term", 2).over(w))
      .where(col("t3").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("term"), col("t2"), col("t3")).as("sh")))
  }

  /** Distinct (doc_id, sh) shingle SETS — the shared input of the exact-
    * jaccard dedup family (candidate verify, jaccard, bottom-k
    * fingerprints): the set-semantics view of the positional shingle table,
    * materialized once per corpus like tokens/shingles (its distinct is a
    * corpus-sized shuffle no consumer should re-pay).
    */
  private def docShingleSets(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#shingleSets", sh.select("doc_id", "sh").distinct())
  }

  /** Per-doc shingle-set sizes (doc_id, c) over [[docShingleSets]]. */
  private def shingleSetSizes(s: SparkSession, dir: String): DataFrame = {
    val ss = docShingleSets(s, dir)
    MatCache.get(s"$dir#shingleSetSizes",
      ss.groupBy("doc_id").agg(count(lit(1)).as("c")))
  }

  /** Banded minhash signature table (doc_id, seed, minhash) — the dedup
    * chain's ingest-time artifact (every candidate/verify/cluster stage
    * consumes it; a real pipeline writes it once next to the corpus). The
    * candidate SELF-join otherwise computes the signature aggregation on
    * BOTH sides (alias-renamed subtrees defeat exchange reuse), and the
    * verify/cluster/star chain would recompute it once more each.
    */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#minhashSigs", {
      val seeds = s.range(0, 4).select(col("id").cast("int").as("seed"))
      sh.crossJoin(seeds)
        .select(col("doc_id"), col("seed"),
          hash60(concat(col("seed").cast("string"), lit("|"), col("sh"))).as("h"))
        .groupBy("doc_id", "seed").agg(min("h").as("minhash"))
    })
  }

  /** Per-doc distinct-term arrays (doc_id, ts) — the materialized tsvector
    * table the anyarray family serves from (both array queries re-derived
    * it with their own corpus-sized collect_set aggregation).
    */
  private def docTermSets(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#termSets",
      t.groupBy("doc_id").agg(collect_set("term").as("ts")))
  }

  /** Distinct (doc_id, term) pairs — the boolean posting-pair view of the
    * token table (document frequency queries group it by term). Shared by
    * the stopword inventory and TF-IDF's df side.
    */
  private def docTermPairs(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#termPairs", t.select("doc_id", "term").distinct())
  }

  /** Once-per-JVM persisted intermediates keyed by (corpus, kind). */
  private object MatCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    def get(key: String, mk: => DataFrame): DataFrame =
      cache.computeIfAbsent(key, _ => mk.persist())
  }

  /** 8-token window hashes per doc: (doc_id, pos, gram) — the shared input
    * of the exact-substring dedup family, materialized once per corpus
    * like tokens/shingles.
    */
  private def grams8(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = tokens(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#grams8", {
      val withLeads = (1 until n).foldLeft(toks) { (df, i) =>
        df.withColumn(s"t$i", lead("term", i).over(w))
      }
      val gramStr = concat_ws(" ", col("term") +: (1 until n).map(i => col(s"t$i")): _*)
      withLeads.where(col(s"t${n - 1}").isNotNull)
        .select(col("doc_id"), col("pos"), hash60(gramStr).as("gram"))
    })
  }

  /** grams whose hash occurs in ≥2 distinct docs (duplicated windows) —
    * a corpus-sized shuffle+agg, so cached like the gram table itself
    * (both ngram dedup queries consume it).
    */
  private def dupGrams8(s: SparkSession, dir: String): DataFrame = {
    val g = grams8(s, dir) // resolve outside: no re-entrant computeIfAbsent
    MatCache.get(s"$dir#dupGrams8",
      g.groupBy("gram")
        .agg(countDistinct("doc_id").as("nd")).where(col("nd") >= 2)
        .select("gram"))
  }

  /** 60-bit deterministic hash shared with DuckDB:
    * CAST('0x' || substr(md5(x),1,15) AS BIGINT).
    */
  private def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-(sfDir, tokenizer) index over documents, built once per JVM.
    * The Searcher instance itself is cached too — its lazy Datasets hold
    * the file listings/footers so repeated queries re-plan, not re-list.
    */
  private object IndexCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Searcher]()

    /** The searcher cached under `key`; the first call builds its index
      * into a fresh temp dir with `build`.
      */
    private def of(s: SparkSession, key: String)(build: String => Unit): Searcher =
      cache.computeIfAbsent(key, _ => {
        val dir = java.nio.file.Files.createTempDirectory("graftidx").toString
        build(dir)
        new Searcher(s, dir)
      })

    /** 8 shards, `attach` stamped into every posting, alt-order layout. */
    private def params(attach: String): IndexBuilder.Params =
      IndexBuilder.Params(nShards = 8, attach = Some(attach), altOrder = true)

    private def documentsIndex(s: SparkSession, sfDir: String, tokenizer: String,
                               keyKind: String = "text"): Searcher =
      of(s, s"$sfDir#$tokenizer#$keyKind")(dir =>
        IndexBuilder.build(s, documents(s, sfDir), "doc_id", "text", dir,
          params("n_chars").copy(tokenizer = tokenizer, keyKind = keyKind,
            altOrder = tokenizer == "simple" && keyKind == "text")))
    def searcher(s: SparkSession, sfDir: String): Searcher = documentsIndex(s, sfDir, "simple")
    /** title-weighted variant: first 8 tokens carry class A. */
    def searcherW(s: SparkSession, sfDir: String): Searcher =
      documentsIndex(s, sfDir, "simple_title8")
    /** hash-keyed variant (rum_tsvector_hash_ops). */
    def searcherH(s: SparkSession, sfDir: String): Searcher =
      documentsIndex(s, sfDir, "simple", "hash")
    /** signed-addon + empty-doc variant: every (n_chars %% 7 == 0) doc's
      * text is nulled (deterministic; indexes as an empty doc), attach =
      * n_chars - 600 so roughly half the addon values are NEGATIVE — the
      * reference's signed ordered scans (sql/int4.sql:7-19 orders (-2..3)
      * by `<=> 0`) through the alt-order layout.
      */
    def searcherS(s: SparkSession, sfDir: String): Searcher =
      of(s, s"$sfDir#signed") { dir =>
        val corpus = documents(s, sfDir)
          .withColumn("text_n",
            when(pmod(col("n_chars"), lit(7)) === 0, lit(null)).otherwise(col("text")))
          .withColumn("n_signed", col("n_chars") - 600)
        IndexBuilder.build(s, corpus, "doc_id", "text_n", dir, params("n_signed"))
      }
    /** events variant: docId = event_id, text = props (JSON payload),
      * attach = epoch-µs(ts) via [[graft.build.AddonUnits.timestampMicros]]
      * — timestamp-typed ordered scans (the reference's timestamp distance
      * opclass, btree_rum.c:513-517; exact µs here, signed so pre-1970
      * values order correctly).
      */
    def searcherT(s: SparkSession, sfDir: String): Searcher =
      of(s, s"$sfDir#events") { dir =>
        val ev = s.read.parquet(s"$sfDir/events.parquet")
          .withColumn("ts_us", graft.build.AddonUnits.timestampMicros(col("ts")))
        IndexBuilder.build(s, ev, "event_id", "props", dir, params("ts_us"))
      }
    /** float-addon variant: attach = order-preserving IEEE bits of
      * n_chars/7.0 ([[graft.build.AddonUnits.floatOrderedBits]]) — float
      * distance scans in VALUE units (the reference's float distance
      * opclasses, btree_rum.c:249-323) through the alt-order layout.
      */
    def searcherF(s: SparkSession, sfDir: String): Searcher =
      of(s, s"$sfDir#float") { dir =>
        val corpus = documents(s, sfDir).withColumn("fbits",
          graft.build.AddonUnits.floatOrderedBits(col("n_chars") / lit(7.0)))
        IndexBuilder.build(s, corpus, "doc_id", "text", dir, params("fbits"))
      }
    /** multi-column variant: fields (text, lang) with field-prefixed keys;
      * n_chars attached + alt-order layout so ranked/ordered scans
      * (topKCoverMulti / topKAddonMulti) are served too.
      */
    def searcherM(s: SparkSession, sfDir: String): Searcher =
      of(s, s"$sfDir#multi")(dir =>
        IndexBuilder.buildFields(s, documents(s, sfDir), "doc_id",
          Seq("text" -> "text", "lang" -> "lang"), dir, params("n_chars")))
  }

  /** Banded LSH signatures per corpus, computed ONCE per JVM and cached
    * partitioned on (table, bucket) — the ingest-time materialization every
    * candidate join co-partitions on (at 100 TB this is a written table
    * bucketed by (table, bucket), e.g. an Iceberg bucket transform; here an
    * in-memory persist demonstrates the same plan shape).
    */
  private object EmbedCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    def signatures(s: SparkSession, sfDir: String): DataFrame =
      cache.computeIfAbsent(sfDir, _ => {
        import graft.search.AnnLsh
        val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        AnnLsh.signatures(emb, "embedding", LshTables, LshPlanes, 64)
          .repartition(col("table"), col("bucket"))
          .persist()
      })
  }

  /** Trained IVF centroids per corpus (deterministic Lloyd's over a
    * hash-ordered sample — see [[graft.search.AnnIvf.kmeansCentroids]]),
    * computed once per JVM: training is ingest-time work, queries only
    * read the k·dim result.
    */
  private object KMeansCache {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
    def centroids(s: SparkSession, sfDir: String): Array[Array[Double]] =
      cache.computeIfAbsent(sfDir, _ =>
        graft.search.AnnIvf.kmeansCentroids(
          s.read.parquet(s"$sfDir/embeddings.parquet"), "embedding", "vec_id",
          k = 8, iters = 2, sampleN = 64))
  }

  /** LSH geometry shared by the Spark queries and the DuckDB oracle:
    * 4 banded tables × 8 planes (32 planes total); table t owns global
    * planes [8t, 8t+8). See [[graft.search.AnnLsh]] for the pair-count
    * bound and why the plane count must scale with corpus size.
    */
  private val LshTables = 4
  private val LshPlanes = 8

  // DuckDB embedding CTE: elements + deterministic banded LSH signatures
  // (twin of graft.search.AnnLsh — md5-parity ±1 planes, 4 tables × 8
  // planes, dims 1-64)
  private val EmbCte =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |elems AS (SELECT vec_id, g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS x
      |  FROM e, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) g),
      |planes AS (SELECT b // 8 AS t, b % 8 AS bit, i,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(b AS VARCHAR) || '|' || CAST(i AS VARCHAR)),1,15) AS BIGINT) % 2 = 1
      |         THEN 1.0 ELSE -1.0 END AS w
      |  FROM (SELECT CAST(unnest(range(0,32)) AS INTEGER) AS b),
      |       (SELECT CAST(unnest(range(1,65)) AS INTEGER) AS i)),
      |proj AS (SELECT vec_id, t, bit, sum(x*w) AS s FROM elems JOIN planes USING(i) GROUP BY 1,2,3),
      |sig AS (SELECT vec_id, t,
      |    CAST(sum(CASE WHEN round(s, 12) > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY 1,2),
      |nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM elems GROUP BY 1)""".stripMargin

  // DuckDB token CTE (kept in one place; concatenated into oracle strings)
  private val ToksCte =
    """WITH toks AS (
      |  SELECT doc_id, t.toks[g.i] AS term, g.i AS pos
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |        FROM documents) t,
      |  LATERAL (SELECT unnest(range(1, len(t.toks)+1)) AS i) g
      |)""".stripMargin

  private val ShingCte =
    ToksCte +
      """,
        |shing AS (
        |  SELECT a.doc_id, a.pos, a.term || ' ' || b.term || ' ' || c.term AS sh
        |  FROM toks a
        |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |)""".stripMargin

  /** Exact transitive closure of the VERIFIED near-dup pair graph
    * (candidates → exact-jaccard θ=0.5 → closure) via recursive CTE;
    * rep = min reachable docId, isolated docs rep = self. Shared by
    * `dedup_cluster` (min-label propagation) and `dedup_cluster_star`
    * (large-star/small-star): both engines' paths must produce identical
    * component-min representatives.
    */
  private val ClusterOracle = ShingCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
    """,
      |seeds AS (SELECT CAST(unnest(range(0,4)) AS INTEGER) AS seed),
      |sig AS (SELECT doc_id, seed,
      |  min(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || sh),1,15) AS BIGINT)) AS minhash
      |  FROM shing, seeds GROUP BY doc_id, seed),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sig a JOIN sig b ON a.seed=b.seed AND a.minhash=b.minhash AND a.doc_id<b.doc_id),
      |ss AS (SELECT DISTINCT doc_id, sh FROM shing),
      |sizes AS (SELECT doc_id, count(*) AS c FROM ss GROUP BY 1),
      |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS i
      |  FROM cand p JOIN ss a ON a.doc_id=p.doc_a
      |  JOIN ss b ON b.doc_id=p.doc_b AND b.sh=a.sh GROUP BY 1,2),
      |prs AS (SELECT i.doc_a, i.doc_b
      |  FROM inter i JOIN sizes ca ON ca.doc_id=i.doc_a
      |  JOIN sizes cb ON cb.doc_id=i.doc_b
      |  WHERE 2*i.i >= ca.c+cb.c-i.i),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
      |          UNION SELECT doc_b, doc_a FROM prs),
      |nodes AS (SELECT DISTINCT a AS doc FROM edges),
      |reach(doc, r) AS (
      |  SELECT doc, doc FROM nodes
      |  UNION
      |  SELECT reach.doc, e.b FROM reach JOIN edges e ON e.a = reach.r),
      |comp AS (SELECT doc, min(r) AS rep FROM reach GROUP BY doc)
      |SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS rep
      |FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Materialize every once-per-corpus intermediate — index variants
    * (plain/weighted/hash/multicol), the token and shingle tables, and the
    * LSH signature table — so per-query bench numbers reflect the query,
    * not a one-time ingest cost. Bench times this under its own
    * `prewarm_build` key; in production these are ingest-time tables.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    // a trivial absent-term query per variant AND layout materializes the
    // Searcher's lazy file listings + parquet footers (ingest-time work,
    // not the query): count touches postings, topKAddon touches the
    // alt-order copy.
    // The index variants and the token/shingle/LSH tables are INDEPENDENT
    // jobs, so they run from a small driver thread pool: Spark's FIFO
    // scheduler back-fills executors freed by one job's task tail with the
    // next job's tasks instead of letting the cluster idle between the
    // eight build jobs (dependency chains stay sequential inside one task).
    val chains: Seq[(String, () => Unit)] = Seq(
      "searcher+alt" -> (() => {
        IndexCache.searcher(s, dir).count("zzzgraftwarm")
        IndexCache.searcher(s, dir).topKAddon("zzzgraftwarm", 0L, "both", 1).count()
      }),
      "searcherW" -> (() => IndexCache.searcherW(s, dir).count("zzzgraftwarm")),
      "searcherH" -> (() => IndexCache.searcherH(s, dir).count("zzzgraftwarm")),
      "searcherS" -> (() =>
        IndexCache.searcherS(s, dir).topKAddon("zzzgraftwarm", 0L, "both", 1).count()),
      "searcherT" -> (() =>
        IndexCache.searcherT(s, dir).topKAddon("zzzgraftwarm", 0L, "both", 1).count()),
      "searcherF" -> (() =>
        IndexCache.searcherF(s, dir).topKAddon("zzzgraftwarm", 0L, "both", 1).count()),
      "searcherM" -> (() => {
        val m = IndexCache.searcherM(s, dir)
        m.countMulti(Seq("text" -> "zzzgraftwarm"))
        m.topKAddonMulti(Seq("text" -> "zzzgraftwarm"), 0L, "both", 1).count()
      }),
      // the token-table materializations split into independent subchains
      // (every chain re-states its dependencies; MatCache's computeIfAbsent
      // blocks a second thread on an in-flight key, so shared prefixes
      // compute once and the rest overlap)
      "shingle sets" -> (() => {
        docShingleSets(s, dir).count()
        shingleSetSizes(s, dir).count()
      }),
      "minhash sigs" -> (() => minhashSigs(s, dir).count()),
      "term sets" -> (() => docTermSets(s, dir).count()),
      "term pairs" -> (() => docTermPairs(s, dir).count()),
      "gram tables" -> (() => {
        grams8(s, dir).count()
        dupGrams8(s, dir).count()
      }),
      "lsh signatures" -> (() => EmbedCache.signatures(s, dir).count()),
      "kmeans centroids" -> (() => { KMeansCache.centroids(s, dir); () }))
    // 8 jobs in flight: A/B-measured sweet spot on local[32] (6→8 saved
    // ~2.3 s cold prewarm across interleaved readings; 10 added nothing) —
    // enough to fill task tails without thrashing executor memory with
    // concurrent index builds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    // every chain runs to its end even when a sibling fails (one broken
    // family must not lose warm-up for the rest); then the first failure
    // is thrown with the others attached as suppressed
    val failures =
      try {
        chains.map { case (what, f) =>
          what -> pool.submit(new Runnable { def run(): Unit = f() })
        }.flatMap { case (what, fut) =>
          try { fut.get(); None } catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(new IllegalStateException(s"prewarm $what failed", e.getCause))
          }
        }
      } finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  // ------------------------------------------------------------------
  // driver contract
  // ------------------------------------------------------------------

  /** Flagship: BM25 top-k over the documents corpus at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("ft_topk_bm25")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational anchors ----
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_join_topn" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").where(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("orderkey"))
        .limit(10)
    }),
    "events_hourly" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .orderBy("hour", "event_type")
    }),
    "events_sessions" -> ((s, dir) => {
      // batch gap sessionization (30-min inactivity closes a session) —
      // the gaps-and-islands twin of the streaming
      // EventStreams.sessions state machine (EventStreamsSpec asserts the
      // two produce identical sessions on one fixture)
      graft.streaming.EventStreams.sessionsBatch(
          s.read.parquet(s"$dir/events.parquet"), "user_id", "ts",
          30L * 60 * 1000)
        .select(col("user").as("user_id"), col("start"), col("end"),
          col("events"))
        .orderBy("user_id", "start")
    }),

    // ---- inverted-index engine over documents ----
    "ft_count_and" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("order & merge")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_count_batch" -> ((s, dir) => {
      // msearch counts: three boolean queries answered by ONE action
      // (Searcher.countBatch) — each slot's count must equal the
      // stand-alone query's count (oracle = union of the per-slot SQL)
      val qs = Seq("order & merge", "vector | stream", "!merge & order")
      val counts = IndexCache.searcher(s, dir).countBatch(qs)
      qs.zipWithIndex.map { case (q, i) =>
        s.range(1).select(lit(i).as("qi"), lit(counts(q)).as("cnt"))
      }.reduce(_.union(_))
    }),
    "ft_count_or" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("vector | stream")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_count_notand" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("!merge & order")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_count_fused" -> ((s, dir) => {
      // fused count-serving: per-shard PARTIAL counts, one scan + one
      // shuffle of nShards×batch rows — match sets never shuffle
      // (Searcher.msearchCounts); slot 2 is an absent term proving the
      // zero-count spine
      IndexCache.searcher(s, dir)
        .msearchCounts(Seq("order & merge", "win:* & sort", "zzzabsent"))
        .orderBy("qi")
    }),
    "ft_msearch_mixed" -> ((s, dir) => {
      // ONE fused batch mixing result KINDS: Count slots ship only their
      // per-shard partial counts (one output row, docId = cnt) while
      // match/top-k slots stream docIds — all slots share the batch's
      // single postings scan (MsearchSpec.Count riding msearch). Slot 3
      // follows ft_topk_bm25's rounding-tie discipline.
      import graft.search.Searcher.MsearchSpec._
      val m = IndexCache.searcher(s, dir).msearch(Seq(
        Count("merge & window"),
        Match("order & merge"),
        Count("win:* & sort"),
        Bm25(Seq("merge", "window", "vector"), 20)))
      val s3 = m.where(col("qi") === 3)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId")).limit(10)
        .select(col("qi"), col("docId"), col("score"))
      m.where(col("qi") =!= 3).select(col("qi"), col("docId"), col("score"))
        .union(s3)
        .select(col("qi"), col("docId").as("doc_id"), col("score"))
        .orderBy("qi", "doc_id")
    }),
    "ft_match_ids" -> ((s, dir) => {
      IndexCache.searcher(s, dir).matchingDocs("window & (hash | sort)")
        .select(col("docId").as("doc_id")).orderBy("doc_id")
    }),
    "ft_phrase_count" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("key <-> order")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_phrase2_count" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("fast <2> scan")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_prefix_count" -> ((s, dir) => {
      val r = IndexCache.searcher(s, dir).count("win:* & sort")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_msearch" -> ((s, dir) => {
      // FUSED multi-search: a heterogeneous 3-query batch (boolean match +
      // BM25 top-k + cover-density top-k) evaluated in ONE postings scan +
      // ONE shuffle (Searcher.msearch; the shared-scan serving shape).
      // Slot 1 follows ft_topk_bm25's rounding-tie discipline: over-fetch
      // 20, round to 4dp, re-rank, keep 10.
      import graft.search.Searcher.MsearchSpec._
      val m = IndexCache.searcher(s, dir).msearch(Seq(
        Match("order & merge"), Bm25(Seq("merge", "window", "vector"), 20),
        Cover("order & window", 10)))
      val s0 = m.where(col("qi") === 0)
        .select(col("qi"), col("docId"), lit(0.0).as("score"))
      val s1 = m.where(col("qi") === 1)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId")).limit(10)
        .select(col("qi"), col("docId"), col("score"))
      val s2 = m.where(col("qi") === 2)
        .withColumn("score", round(col("score"), 4))
        .select(col("qi"), col("docId"), col("score"))
      s0.union(s1).union(s2)
        .select(col("qi"), col("docId").as("doc_id"), col("score"))
        .orderBy("qi", "doc_id")
    }),
    "ft_topk_bm25" -> ((s, dir) => {
      IndexCache.searcher(s, dir).topKBm25(Seq("merge", "window", "vector"), 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId"))
        .limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("docId"))))
        .select(col("docId").as("doc_id"), col("score"), col("rank"))
    }),
    "ft_topk_bm25_batch" -> ((s, dir) => {
      // msearch: two ranked queries served by ONE Spark job (tagged union
      // of cached branch plans — Searcher.topKBm25Batch); qi is the batch
      // slot. Same rounding-tie discipline as ft_topk_bm25 but with a
      // deeper margin (fetch 40, round, re-rank per slot, keep 10): these
      // common terms cluster scores harder than the single-query set.
      IndexCache.searcher(s, dir).topKBm25Batch(Seq(
          (Seq("merge", "window", "vector"), 40), (Seq("stream", "data", "hash"), 40)))
        .withColumn("score", round(col("score"), 4))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qi").orderBy(col("score").desc, col("docId"))))
        .where(col("rank") <= 10)
        .select(col("qi"), col("docId").as("doc_id"), col("score"), col("rank"))
        .orderBy("qi", "rank")
    }),
    "ft_topk_cover" -> ((s, dir) => {
      // cover-density top-k; for a 2-term AND the minimal covers are the
      // adjacent different-term pairs of the merged occurrence sequence,
      // which the DuckDB oracle enumerates with window functions
      IndexCache.searcher(s, dir).topKCover("order & window", 10)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_fuzzy_sample" -> ((s, dir) => {
      // fuzzy_search_limit (reference rumget.c:50-76): thin matches
      // deterministically (md5(docId) coin) so ~50 survive; prediction =
      // rarest required term's df. The oracle applies the same coin —
      // identical when prediction <= limit (keep prob >= 1).
      IndexCache.searcher(s, dir).matchingDocsSampled("merge & window", 50)
        .select(col("docId").as("doc_id")).orderBy("doc_id")
    }),
    "ft_multicol" -> ((s, dir) => {
      // two-field index (text, lang): per-field tsqueries ANDed into one
      // kernel pass over field-prefixed keys (attnum prefix analogue,
      // src/rumutil.c:266-288); prefix search stays field-scoped
      IndexCache.searcherM(s, dir)
        .matchingDocsMulti(Seq("text" -> "merge & win:*", "lang" -> "en | de"))
        .select(col("docId").as("doc_id")).orderBy("doc_id")
    }),
    "ft_multicol_rank" -> ((s, dir) => {
      // multicolumn RANKED scan (the last reference capability: ordered
      // scans over multicolumn indexes, sql/orderby.sql:89-106): match
      // text @@ 'order & window' AND lang @@ 'en' in one kernel pass over
      // field-prefixed keys; rank by cover-density of the TEXT query alone
      IndexCache.searcherM(s, dir)
        .topKCoverMulti("text", "order & window", Seq("lang" -> "en"), 10)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_multicol_addon" -> ((s, dir) => {
      // multicolumn ordered-by-addon scan — the exact reference test shape
      // (text predicate + ORDER BY d <=> c on one multicolumn index);
      // served from the alt-order layout with early termination
      IndexCache.searcherM(s, dir)
        .topKAddonMulti(Seq("text" -> "merge & window", "lang" -> "en | de"),
          600L, "both", 10)
        .select(col("docId").as("doc_id"), col("addon").as("n_chars"),
          col("distance").cast("long").as("dist"))
    }),
    "ft_multicol_bm25" -> ((s, dir) => {
      // field-scoped BM25 over the multicolumn index: stats and doc lens
      // come from the text field's own prefixed key space
      IndexCache.searcherM(s, dir)
        .topKBm25Fields("text", Seq("merge", "window", "vector"), 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId"))
        .limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("docId"))))
        .select(col("docId").as("doc_id"), col("score"), col("rank"))
    }),
    "ft_msearch_multi" -> ((s, dir) => {
      // fused msearch over the MULTI-COLUMN index: field-scoped match +
      // ranked + BM25 slots in one scan+shuffle; slot 2 follows
      // ft_multicol_bm25's rounding-tie discipline (fetch 20, round,
      // re-rank, keep 10)
      import graft.search.Searcher.MsearchSpec._
      val m = IndexCache.searcherM(s, dir).msearch(Seq(
        MatchFields(Seq("text" -> "merge & win:*", "lang" -> "en | de")),
        CoverFields("text", "order & window", Seq("lang" -> "en"), 10),
        Bm25Fields("text", Seq("merge", "window", "vector"), 20)))
      val s0 = m.where(col("qi") === 0)
        .select(col("qi"), col("docId"), lit(0.0).as("score"))
      val s1 = m.where(col("qi") === 1)
        .withColumn("score", round(col("score"), 4))
        .select(col("qi"), col("docId"), col("score"))
      val s2 = m.where(col("qi") === 2)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId")).limit(10)
        .select(col("qi"), col("docId"), col("score"))
      s0.union(s1).union(s2)
        .select(col("qi"), col("docId").as("doc_id"), col("score"))
        .orderBy("qi", "doc_id")
    }),
    "ft_rank_norm" -> ((s, dir) => {
      // rank-normalization flag end-to-end: LOGLENGTH divides the
      // cover-density score by ln(docLen+1) (reference flag set,
      // src/rum_ts_utils.c:137-142; applied at 1317-1320)
      IndexCache.searcher(s, dir).topKCover("order & window", 10,
        method = graft.query.CoverRank.NormLogLength)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_rank_extdist" -> ((s, dir) => {
      // EXTDIST norm: score divided by the harmonic mean of consecutive
      // cover-extent distances (reference calc_score_docr epilogue,
      // src/rum_ts_utils.c:1300-1310)
      IndexCache.searcher(s, dir).topKCover("order & window", 10,
        method = graft.query.CoverRank.NormExtDist)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_rank_rdiv" -> ((s, dir) => {
      // RDIVRPLUS1 norm: score -> score/(score+1) before inversion
      IndexCache.searcher(s, dir).topKCover("order & window", 10,
        method = graft.query.CoverRank.NormRDivRPlus1)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_hash_count" -> ((s, dir) => {
      // hash-keyed opclass: same boolean semantics over 64-bit hashed
      // entry keys (rum_tsvector_hash_ops, expected/rum_hash.out)
      val r = IndexCache.searcherH(s, dir).count("order & merge & !stream")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_hash_topk" -> ((s, dir) => {
      // BM25 over hashed keys — stats/pushdown all operate on hashes
      IndexCache.searcherH(s, dir).topKBm25(Seq("merge", "window", "vector"), 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("docId"))
        .limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("docId"))))
        .select(col("docId").as("doc_id"), col("score"), col("rank"))
    }),
    "ft_weighted_count" -> ((s, dir) => {
      // weight-masked match: docs where 'merge' occurs with class A
      // (title-weighted index: pos <= 8) — RUM weight filters,
      // reference src/rum_ts_utils.c:128-197 checkcondition_rum + weights[]
      val r = IndexCache.searcherW(s, dir).count("merge:A & window")
      s.range(1).select(lit(r).as("cnt"))
    }),
    "ft_weighted_rank" -> ((s, dir) => {
      // weighted cover-density rank: class-A occurrences carry invWeight 1
      // vs D's 10, so title hits dominate the score (rum_ts_distance with
      // weighted lexemes, reference expected/rum.out:363-367)
      IndexCache.searcherW(s, dir).topKCover("order & window", 10)
        .withColumn("distance", round(col("distance"), 4))
        .select(col("docId").as("doc_id"), col("distance"))
        .orderBy("distance", "doc_id")
    }),
    "ft_addon_topk" -> ((s, dir) => {
      // WHERE t @@ 'merge & window' ORDER BY n_chars <=> 600 LIMIT 10
      // (RUM addon ordered scan; n_chars rides in the posting payload)
      IndexCache.searcher(s, dir).topKAddon("merge & window", 600L, "both", 10)
        .select(col("docId").as("doc_id"), col("addon").as("n_chars"),
          col("distance").cast("long").as("dist"))
    }),
    "ft_addon_left" -> ((s, dir) => {
      IndexCache.searcher(s, dir).topKAddon("merge & window", 600L, "left", 5)
        .where(col("distance") =!= Double.PositiveInfinity)
        .select(col("docId").as("doc_id"), col("addon").as("n_chars"))
    }),
    "ft_order2" -> ((s, dir) => {
      // multi-ORDER-BY-key scan in ONE pass (reference sorts the whole
      // distances[norderbys] vector then TID — src/rumget.c:2218-2301
      // insertScanItem, src/rumsort.c:3977-4022 comparetup_rum):
      // WHERE t @@ 'order & window'
      // ORDER BY t <=> q, n_chars <=> 600 LIMIT 10, lexicographic
      import graft.search.Searcher.OrderKey
      IndexCache.searcher(s, dir).topKMulti("order & window",
          Seq(OrderKey.Rank(), OrderKey.Addon(600L, "both")), 10)
        .select(col("docId").as("doc_id"), round(col("d0"), 4).as("distance"),
          col("d1").cast("long").as("dist2"))
    }),
    "ft_msearch_order2" -> ((s, dir) => {
      // fused batch with a composite-ordered slot: boolean match + Order2
      // (WHERE t @@ q ORDER BY t <=> q, n_chars <=> 600, doc_id LIMIT 10)
      // in ONE postings scan — the addon second key decides membership at
      // the k boundary (rank ties are common in templated corpora), and
      // per-shard pruning happens on the FULL composite tuple
      import graft.search.Searcher.MsearchSpec._
      IndexCache.searcher(s, dir).msearch(Seq(
        Match("order & merge"),
        Order2("order & window", 600L, "both", 10)))
        .select(col("qi"), col("docId").as("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy("qi", "doc_id")
    }),
    "ft_addon_range" -> ((s, dir) => {
      // served from the (addon, docId)-ordered layout: bounded stream
      // [400, 700], cost tracks the in-range match count
      IndexCache.searcher(s, dir).rangeAddon("merge & window", 400L, 700L)
        .select(col("docId").as("doc_id"), col("addon").as("n_chars"))
        .orderBy("n_chars", "doc_id")
    }),
    "ft_facet_addon" -> ((s, dir) => {
      // facet histogram over the attached column (the date-histogram
      // serving shape): matches per width-50 bucket of n_chars in
      // [400, 700] — the alt layout's bounded scan collapses each shard
      // to ≤ one row per bucket; only bucket partials shuffle
      IndexCache.searcher(s, dir)
        .countByAddonBucket("merge & window", 50L, 400L, 700L)
        .orderBy("bucket")
    }),
    "ft_facet_or" -> ((s, dir) => {
      // disjunctive facet: the union candidate driver (positive-key
      // entry merge) feeding the bucket collapse — one pass, in order
      IndexCache.searcher(s, dir)
        .countByAddonBucket("merge | window", 100L, 0L, 1000L)
        .orderBy("bucket")
    }),
    "ft_msearch_facet" -> ((s, dir) => {
      // fused batch mixing facet slots with a count slot: the two facet
      // slots share ONE alt-layout scan; only per-shard bucket/count
      // partials shuffle regardless of match counts
      import graft.search.Searcher.MsearchSpec._
      IndexCache.searcher(s, dir).msearch(Seq(
          Facet("merge & window", 50L, 400L, 700L),
          Count("merge | window"),
          Facet("merge | window", 100L, 0L, 1000L)))
        .select(col("qi"), col("docId").as("key"),
          col("score").cast("long").as("val"))
        .orderBy("qi", "key")
    }),
    "ft_addon_signed" -> ((s, dir) => {
      // NEGATIVE addons through the alt-order fast path: attach is the
      // signed n_chars - 600 (reference orders signed scalars by <=> 0,
      // sql/int4.sql:7-19); nulled-text docs (n_chars % 7 == 0) index as
      // empty docs and cannot match
      IndexCache.searcherS(s, dir).topKAddon("merge & window", 0L, "both", 10)
        .select(col("docId").as("doc_id"), col("addon").as("n_signed"),
          col("distance").cast("long").as("dist"))
    }),
    "ft_addon_signed_or" -> ((s, dir) => {
      // same signed index with an OR query and a negative constant — since
      // round 5 the alt fast path serves disjunctions too (positive-key
      // union driver, RUM's entry-merge shape); primary-layout parity for the
      // identical shapes is pinned by AltOrderSpec's plain-layout twin
      IndexCache.searcherS(s, dir).topKAddon("merge | window", -50L, "both", 10)
        .select(col("docId").as("doc_id"), col("addon").as("n_signed"),
          col("distance").cast("long").as("dist"))
    }),
    "ft_addon_ts" -> ((s, dir) => {
      // WHERE props @@ '69' ORDER BY ts <=> '2024-01-15' LIMIT 10 over the
      // events table — timestamp-typed addon in exact epoch-µs
      // (AddonUnits.timestampMicros), served from the alt-order layout
      val c = graft.build.AddonUnits.timestampMicros(
        java.time.Instant.parse("2024-01-15T00:00:00Z"))
      IndexCache.searcherT(s, dir).topKAddon("69", c, "both", 10)
        .select(col("docId").as("event_id"), col("addon").as("ts_us"),
          col("distance").cast("long").as("dist"))
    }),
    "ft_facet_day" -> ((s, dir) => {
      // the literal date histogram: daily counts of events whose props
      // match '69', bucketed on the timestamp-typed addon (exact epoch-µs,
      // width = 1 day) — Elasticsearch's date_histogram served from the
      // alt layout's bounded scan, only per-shard day-partials shuffle
      val day = 86400000000L
      val lo = graft.build.AddonUnits.timestampMicros(
        java.time.Instant.parse("2024-01-01T00:00:00Z"))
      val hi = graft.build.AddonUnits.timestampMicros(
        java.time.Instant.parse("2024-02-01T00:00:00Z")) - 1L
      IndexCache.searcherT(s, dir).countByAddonBucket("69", day, lo, hi)
        .select(col("bucket").as("day_us"), col("cnt"))
        .orderBy("day_us")
    }),
    "ft_facet_float" -> ((s, dir) => {
      // facet histogram in float VALUE units (f = n_chars/7.0): width-20
      // buckets over [0, 200], bucket math in IEEE double arithmetic so
      // the SQL oracle reproduces buckets bit-for-bit
      IndexCache.searcherF(s, dir)
        .countByAddonBucketFloat("merge & window", 20.0, 0.0, 200.0)
        .orderBy("bucket")
    }),
    "ft_msearch_facetf" -> ((s, dir) => {
      // fused float VALUE-units facet slots (conjunctive + union-driven
      // OR) share one alt scan; slot rows carry the bucket start's raw
      // IEEE bits in docId — decoded here for the oracle compare
      import graft.search.Searcher.MsearchSpec._
      val dec = udf((b: Long) => java.lang.Double.longBitsToDouble(b))
      IndexCache.searcherF(s, dir).msearch(Seq(
          FacetFloat("merge & window", 20.0, 0.0, 200.0),
          FacetFloat("merge | window", 50.0, 0.0, 250.0)))
        .select(col("qi"), dec(col("docId")).as("bucket"),
          col("score").cast("long").as("cnt"))
        .orderBy("qi", "bucket")
    }),
    "ft_msearch_empty" -> ((s, dir) => {
      // INCLUDE_EMPTY inside a fused batch: CountEmpty/MatchEmpty slots
      // push the reserved placeholder key down the shared scan next to an
      // ordinary count slot (searcherS nulls text for n_chars % 7 == 0)
      import graft.search.Searcher.MsearchSpec._
      IndexCache.searcherS(s, dir).msearch(Seq(
          CountEmpty(None),
          Count("merge & window"),
          MatchEmpty(None)))
        .select(col("qi"), col("docId").as("key"),
          col("score").cast("long").as("val"))
        .orderBy("qi", "key")
    }),
    "ft_addon_float" -> ((s, dir) => {
      // WHERE merge & window ORDER BY f <=> 85.5 LIMIT 10 in float VALUE
      // units (f = n_chars/7.0, indexed as order-preserving IEEE bits);
      // the alt fast path ranks the double distance's own bit image, so
      // early termination survives the unit change
      IndexCache.searcherF(s, dir)
        .topKAddonFloat("merge & window", 85.5, "both", 10)
        .select(col("docId").as("doc_id"), col("value").as("f"),
          col("distance").as("dist"))
        .orderBy("dist", "doc_id")
    }),
    "ft_msearch_addon" -> ((s, dir) => {
      // fused batch WITH ordered-scan slots: boolean match (primary
      // layout) + addon top-k + addon range (alt-order layout) — one scan
      // per layout touched, one job for the whole batch
      import graft.search.Searcher.MsearchSpec._
      IndexCache.searcher(s, dir).msearch(Seq(
        Match("order & merge"),
        Addon("merge & window", 600L, "both", 10),
        AddonRange("merge & window", 400L, 700L)))
        .select(col("qi"), col("docId").as("doc_id"),
          col("score").cast("long").as("dist"))
        .orderBy("qi", "doc_id")
    }),
    "ft_msearch_float" -> ((s, dir) => {
      // fused batch in float VALUE units (f = n_chars/7.0 indexed as
      // order-preserving IEEE bits): boolean match + float addon top-k +
      // float range — the top-k slot rides the alt shared scan ranking the
      // double distance's own bit image; the range slot is a pure bound
      // desugar (bit order = value order)
      import graft.search.Searcher.MsearchSpec._
      IndexCache.searcherF(s, dir).msearch(Seq(
        Match("order & merge"),
        AddonFloat("merge & window", 85.5, "both", 10),
        AddonRangeFloat("merge & window", 57.0, 100.0)))
        .select(col("qi"), col("docId").as("doc_id"),
          col("score").as("dist"))
        .orderBy("qi", "doc_id")
    }),
    "ft_empty_count" -> ((s, dir) => {
      // empty/NULL-column docs counted from the INDEX via the reserved
      // placeholder key (INCLUDE_EMPTY, src/rumscan.c:144-151) — the plan
      // is a one-key postings scan, no corpus read; searcherS nulls text
      // for every n_chars % 7 == 0 doc
      IndexCache.searcherS(s, dir).matchingEmpty()
        .agg(count(lit(1)).as("cnt"))
    }),
    "ft_df" -> ((s, dir) => {
      IndexCache.searcher(s, dir)
        .termStats(Seq("merge", "window", "vector", "the", "zzzabsent"))
        .orderBy("term")
    }),
    "ft_tf" -> ((s, dir) => {
      IndexCache.searcher(s, dir).termPostings("merge").orderBy("doc_id")
    }),
    "ft_doclen" -> ((s, dir) => {
      IndexCache.searcher(s, dir).docLens.orderBy("doc_id")
    }),

    // ---- training-data ops: dedup family ----
    "dedup_exact" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      documents(s, dir)
        .select(col("doc_id"), count(lit(1)).over(w).as("grp_size"),
          min("doc_id").over(w).as("keeper"))
        .orderBy("doc_id")
    }),
    "dedup_minhash_sig" -> ((s, dir) => {
      minhashSigs(s, dir).orderBy("doc_id", "seed")
    }),
    "dedup_minhash_pairs" -> ((s, dir) => {
      val sig = minhashSigs(s, dir)
      val a = sig.select(col("doc_id").as("doc_a"), col("seed"), col("minhash"))
      val b = sig.select(col("doc_id").as("doc_b"), col("seed"), col("minhash"))
      a.join(b, Seq("seed", "minhash")).where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().orderBy("doc_a", "doc_b")
    }),
    "dedup_simhash" -> ((s, dir) => {
      // all 16 bit-planes as aggregate COLUMNS of one groupBy instead of a
      // ×16 crossJoin explosion: the shuffle carries tf rows, not tf×16
      // (identical long-sum algebra per plane, so results match bit-for-bit)
      val tf = tokens(s, dir).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("h", hash60(col("term")))
      val planes = (0 until 16).map(b =>
        sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), col("tf"))
          .otherwise(-col("tf"))).as(s"v$b"))
      tf.groupBy("doc_id").agg(planes.head, planes.tail: _*)
        .select(col("doc_id"),
          (0 until 16).map(b =>
            when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }),
    "dedup_jaccard_pairs" -> ((s, dir) => {
      // the self-join is keyed on the COMPOSITE (sh, doc_id) — the explicit
      // `nbr` column makes the equi-key unambiguous, so a hot shingle
      // (license boilerplate) never concentrates on one shuffle key: its
      // rows spread across the doc-id space (plan asserted in TextAnnSpec)
      val ss = docShingleSets(s, dir)
      val sizes = shingleSetSizes(s, dir)
      val a = ss.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        (col("doc_id") + 1).as("nbr"))
      val b = ss.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val inter = a.join(b, col("sh_a") === col("sh_b") && col("nbr") === col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("c", "ca"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("c", "cb"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("i").as("i_sh"),
          (col("ca") + col("cb") - col("i")).as("u_sh"))
        .orderBy("doc_a", "doc_b")
    }),
    "dedup_verify_pairs" -> ((s, dir) => {
      // the verify step of the Lee-et-al. pipeline: EXACT jaccard computed
      // ONLY over the minhash candidate pairs (never all pairs — candidate
      // count bounds the work, that is the point of the minhash stage).
      // Each candidate rides an equi-join to its A-side shingles (doc_a),
      // then the B-side matches on the composite (doc_b, sh) — intersection
      // size per pair without any theta-join. θ = 0.5 expressed as the
      // exact integer predicate 2·i ≥ u (no float threshold drift).
      val cand = queries("dedup_minhash_pairs")(s, dir).select("doc_a", "doc_b")
      val ss = docShingleSets(s, dir)
      val sizes = shingleSetSizes(s, dir)
      val inter = cand
        .join(ss.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
        .join(ss.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("c", "ca"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("c", "cb"), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("i").as("i_sh"),
          (col("ca") + col("cb") - col("i")).as("u_sh"))
        .where(col("i_sh") * 2 >= col("u_sh"))
        .orderBy("doc_a", "doc_b")
    }),
    "dedup_cluster" -> ((s, dir) => {
      // near-dup CLUSTER assignment: connected components over the VERIFIED
      // near-dup edges (candidates → exact-jaccard verify → cluster, the
      // full Lee-et-al. chain); every doc gets the component-min docId as
      // its canonical rep (rep == doc_id ⇒ keeper) — the step that turns
      // pairwise dedup output into per-document keep/drop decisions
      import graft.text.Components
      val pairs = queries("dedup_verify_pairs")(s, dir).select("doc_a", "doc_b")
      Components.components(pairs, "doc_a", "doc_b", documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),
    "dedup_cluster_star" -> ((s, dir) => {
      // the same verified edge set clustered by the alternating
      // large-star/small-star formulation (O(log² n) rounds independent of
      // component diameter — the extreme-scale path) — must agree with
      // dedup_cluster's min-label result row for row
      import graft.text.Components
      val pairs = queries("dedup_verify_pairs")(s, dir).select("doc_a", "doc_b")
      Components.componentsStar(pairs, "doc_a", "doc_b", documents(s, dir), "doc_id")
        .orderBy("doc_id")
    }),
    "fingerprint_bottomk" -> ((s, dir) => {
      val ss = docShingleSets(s, dir)
        .withColumn("h", hash60(col("sh")))
      val w = Window.partitionBy("doc_id").orderBy(col("h"), col("sh"))
      ss.withColumn("rank", row_number().over(w)).where(col("rank") <= 4)
        .select("doc_id", "h", "rank").orderBy("doc_id", "rank")
    }),
    "dedup_ngram_spans" -> ((s, dir) => {
      // EXACT duplicated-substring detection at fixed window size (the
      // suffix-array exact-dedup recipe of Lee et al., "Deduplicating
      // Training Data Makes Language Models Better", restricted to
      // n-token windows): an 8-token window whose hash occurs in ≥2
      // distinct docs is a duplicated span. Cost is linear in corpus
      // tokens — one shuffle keyed on the gram hash (boilerplate head
      // grams are absorbed by map-side partial aggregation + AQE), one
      // equi-join back onto the per-doc windows (grams8 materialized once
      // per corpus, shared with dedup_ngram_maxspans).
      val grams = grams8(s, dir)
      val total = grams.groupBy("doc_id").agg(count(lit(1)).as("total_windows"))
      grams.join(dupGrams8(s, dir), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("dup_windows"))
        .join(total, "doc_id")
        .select(col("doc_id"), col("dup_windows"), col("total_windows"))
        .orderBy("doc_id")
    }),

    // ---- text analysis ----
    "text_quality" -> ((s, dir) => {
      tokens(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct("term").as("n_uniq"),
          sum(length(col("term"))).as("total_len"),
          sum(when(col("term").isin("the", "a", "of", "and", "to", "in"), 1L)
            .otherwise(0L)).as("n_stop"))
        .orderBy("doc_id")
    }),
    "token_counts" -> ((s, dir) => {
      documents(s, dir).select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("ws_tokens"),
        size(tokArray(col("text"))).cast("long").as("re_tokens"))
        .orderBy("doc_id")
    }),
    "dedup_ngram_maxspans" -> ((s, dir) => {
      // maximal duplicated SPANS: merge runs of consecutive duplicated
      // 8-token windows into one (start_pos, span_tokens) range per run —
      // the actionable output of exact-substring dedup (the byte ranges a
      // pipeline cuts). Gaps-and-islands: run key = pos − row_number.
      val n = 8
      val w = Window.partitionBy("doc_id").orderBy("pos")
      grams8(s, dir).join(dupGrams8(s, dir), "gram")
        .select("doc_id", "pos")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(min("pos").as("start_pos"), count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("start_pos"), col("n_windows"),
          (col("n_windows") + (n - 1)).as("span_tokens"))
        .orderBy("doc_id", "start_pos")
    }),
    "text_tfidf" -> ((s, dir) => {
      // top-5 TF-IDF terms per doc (the per-doc keyword profile a
      // training pipeline materializes): idf = ln(N/df); ties break on
      // term; score rounded to 6dp for cross-engine float parity
      val toks = tokens(s, dir)
      val nDocs = documents(s, dir).count()
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = docTermPairs(s, dir)
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(dfT, "term")
        .withColumn("tfidf", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    }),
    "text_stopwords" -> ((s, dir) => {
      // corpus stopword inventory: terms ranked by document frequency
      // (distinct docs containing the term). Ties at the cut break on the
      // term itself so the top-k is deterministic cross-engine; the top-k
      // runs as orderBy+limit → TakeOrderedAndProject per-partition heaps.
      docTermPairs(s, dir)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(25)
    }),

    // ---- array ops (RUM anyarray opclass semantics) ----
    "arr_similarity" -> ((s, dir) => {
      // per-doc distinct-term set vs a constant 3-term array: intersection
      // count + set size (similarity/<=> derivable; ints keep the oracle
      // float-exact), ranked by cosine similarity desc
      val qArr = Seq("merge", "window", "vector")
      val terms = docTermSets(s, dir)
      val i = size(array_intersect(col("ts"), typedlit(qArr))).cast("long")
      val nu = size(col("ts")).cast("long")
      // top-20 via orderBy+limit (TakeOrderedAndProject — distributed
      // per-partition heaps), NOT row_number over an unpartitioned window
      // (which would single-partition-sort the full corpus at scale);
      // rank is then computed over the 20 survivors only
      terms.select(col("doc_id"), i.as("i_cnt"), nu.as("n_uniq"))
        .where(col("i_cnt") > 0)
        .orderBy((col("i_cnt") * col("i_cnt") / col("n_uniq")).desc, col("doc_id"))
        .limit(20)
        .withColumn("rnk", row_number().over(Window.orderBy(
          (col("i_cnt") * col("i_cnt") / col("n_uniq")).desc, col("doc_id"))))
        .orderBy("rnk")
    }),
    "arr_order" -> ((s, dir) => {
      // ordered scan BY array distance — `ORDER BY arr <=> const LIMIT k`
      // (reference array ordering cases, sql/array.sql:17-30): distance =
      // 1/cosine-similarity over distinct-element sets (DIST_FROM_SML,
      // rum_arr_utils.c:855-880), finite matches only, ties on doc_id.
      // The raw double is emitted un-rounded: sqrt and division are
      // correctly-rounded IEEE in both engines, so the values agree
      // bit-exactly and the driver's 1e-12 float compare passes.
      val qArr = Seq("merge", "window", "vector")
      val terms = docTermSets(s, dir)
      terms.select(col("doc_id"),
          graft.compat.ArrayOps.distance(col("ts"), typedlit(qArr)).as("dist"),
          size(array_intersect(col("ts"), typedlit(qArr))).cast("long").as("i_cnt"),
          size(col("ts")).cast("long").as("n_uniq"))
        .where(col("dist") =!= Double.PositiveInfinity)
        .orderBy(col("dist").asc, col("doc_id").asc)
        .limit(10)
    }),
    "inv_query_match" -> ((s, dir) => {
      import graft.compat.QueryIndex
      val qs = Seq(1L -> "merge & window", 2L -> "vector | stream",
        3L -> "!merge & order", 4L -> "win:* & sort")
      import s.implicits._
      val built = QueryIndex.build(s, qs.toDF("id", "q"))
      QueryIndex.probe(s, built, documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "query_id")
    }),

    "text_langid" -> ((s, dir) => {
      // marker-profile language ID (n-gram heuristic; graft.text.TextAnalysis)
      import graft.text.TextAnalysis
      val scores = TextAnalysis.langScores(col("text"))
      val scored = scores.foldLeft(documents(s, dir)) {
        case (df, (lang, c)) => df.withColumn(s"s_$lang", c)
      }
      scored.select(col("doc_id") +: scores.map { case (l, _) => col(s"s_$l") } :+
          TextAnalysis.langId(scores.map { case (l, _) => l -> col(s"s_$l") })
            .as("pred_lang"): _*)
        .orderBy("doc_id")
    }),
    "fingerprint_winnow" -> ((s, dir) => {
      // winnowing (Schleimer et al.): min shingle-hash per sliding window
      // of 5, distinct per doc — the rolling-hash document fingerprint
      val w5 = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-4, 0)
      shingles(s, dir).withColumn("h", hash60(col("sh")))
        .withColumn("minh", min("h").over(w5))
        .where(col("pos") >= 5)
        .select(col("doc_id"), col("minh").as("h")).distinct()
        .orderBy("doc_id", "h")
    }),

    // ---- similarity search over embeddings ----
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val qNorm = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
      val qCol = typedlit(q)
      val dot = aggregate(
        zip_with(col("embedding"), qCol, (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      val norm = sqrt(aggregate(
        transform(col("embedding"), a => a.cast("double") * a.cast("double")),
        lit(0.0), (acc, x) => acc + x))
      emb.select(col("vec_id"), round(dot / (norm * lit(qNorm)), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // banded-LSH ANN (the scale path): candidates share the query's
      // (table, bucket) in any of the 4 tables; exact cosine re-ranks
      // candidates only. Signatures are computed once per corpus and
      // cached partitioned on (table, bucket) — see EmbedCache.
      import graft.search.AnnLsh
      val sig = EmbedCache.signatures(s, dir)
      val q = s.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
      val qBuckets = sig.where(col("vec_id") === 0)
        .select("table", "bucket").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      val hit = qBuckets.map { case (t, b) => col("table") === t && col("bucket") === b }
        .reduce(_ || _)
      sig.where(hit)
        .select("vec_id", "embedding").dropDuplicates("vec_id")
        .select(col("vec_id"), round(AnnLsh.cosineTo(col("embedding"), q), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      // IVF-flat ANN: vectors carry their nearest-centroid cluster
      // (the ingest-time partition key); the query probes the 2 nearest
      // clusters of 8 and re-ranks candidates exactly — scanned fraction
      // ~ nprobe/nClusters. Centroids deterministic (vec_id 0..7) so the
      // oracle can verify assignment + probe + rerank end-to-end.
      import graft.search.{AnnIvf, AnnLsh}
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val q = cents(0) // query = vec 0
      val probes = AnnIvf.probeClusters(q, cents, 2)
      AnnIvf.assign(emb, "embedding", cents)
        .where(col("cluster").isin(probes: _*))
        .select(col("vec_id"), round(AnnLsh.cosineTo(col("embedding"), q), 4).as("sim"),
          col("cluster"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
    }),
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      // IVF with TRAINED centroids: deterministic Lloyd's (2 iterations,
      // 64-row hash-ordered sample, pinned tie/rounding rules) so the SQL
      // oracle replays training, assignment, probe and rerank end-to-end;
      // the fixed-row-centroid ann_ivf_topk remains as the demo baseline
      import graft.search.AnnIvf
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = KMeansCache.centroids(s, dir)
      val q = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val probes = AnnIvf.probeClustersD(q, cents, 2)
      AnnIvf.assignD(emb, "embedding", cents)
        .where(col("cluster").isin(probes: _*))
        .select(col("vec_id"), round(AnnIvf.cosineTo(col("embedding"), q), 4).as("sim"),
          col("cluster"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.orderBy(col("sim").desc, col("vec_id"))))
    }),
    "dedup_embed_lsh" -> ((s, dir) => {
      // embedding-cosine near-dup with banded LSH blocking: candidate
      // pairs share a (table, bucket) cell (co-partitioned equi-join;
      // expected pairs ~ T*n^2/2^(P+1), never all-pairs); exact cosine
      // >= 0.40 confirms
      import graft.search.AnnLsh
      val sig = EmbedCache.signatures(s, dir)
      val a = sig.select(col("table"), col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = sig.select(col("table"), col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(b, Seq("table", "bucket")).where(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b", "ea", "eb").dropDuplicates("vec_a", "vec_b")
        .withColumn("sim", AnnLsh.cosine(col("ea"), col("eb")))
        .where(col("sim") >= 0.40)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
        .orderBy("vec_a", "vec_b")
    }),

    // ---- multimodal binary pipeline ----
    "mm_features" -> ((s, dir) => {
      // opaque binary payload + typed metadata → per-batch feature extract
      // (decode stubbed deterministically; Spark plumbing real — see
      // graft.multimodal.BinaryPipeline)
      import graft.multimodal.BinaryPipeline
      val media = BinaryPipeline.synthesize(documents(s, dir), "doc_id", "text")
      BinaryPipeline.extractFeatures(s, media)
        .select(col("media_id").as("doc_id"), col("n_bytes"), col("width"),
          col("sum_bytes"), col("histo_0"), col("distinct_bytes"))
        .orderBy("doc_id")
    }))

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty,
        |round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price, count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topn" ->
      """SELECT l_orderkey AS orderkey, round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey=o.o_custkey
        |JOIN lineitem l ON l.l_orderkey=o.o_orderkey
        |WHERE c.c_mktsegment='BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1 ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        |round(sum(value),4) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // gap sessionization, gaps-and-islands: a session breaks where the gap
    // to the previous event (per user) strictly exceeds 30 minutes
    "events_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |y AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS UNBOUNDED PRECEDING) AS sess FROM x)
        |SELECT user_id, min(ts) AS start, max(ts) AS "end",
        |  count(*) AS events
        |FROM y GROUP BY user_id, sess
        |ORDER BY user_id, start""".stripMargin,
    "ft_count_and" -> (ToksCte +
      """SELECT count(*) AS cnt FROM (
        |  SELECT doc_id FROM toks WHERE term='order'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='merge') x""".stripMargin),
    "ft_count_or" -> (ToksCte +
      "SELECT count(DISTINCT doc_id) AS cnt FROM toks WHERE term IN ('vector','stream')"),
    "ft_count_batch" -> (ToksCte +
      """SELECT 0 AS qi, count(*) AS cnt FROM (
        |  SELECT doc_id FROM toks WHERE term='order'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='merge') x
        |UNION ALL
        |SELECT 1, count(DISTINCT doc_id) FROM toks WHERE term IN ('vector','stream')
        |UNION ALL
        |SELECT 2, count(*) FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term='order'
        |  EXCEPT SELECT DISTINCT doc_id FROM toks WHERE term='merge') x
        |ORDER BY qi""".stripMargin),
    "ft_count_notand" -> (ToksCte +
      """SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term='order'
        |  EXCEPT SELECT DISTINCT doc_id FROM toks WHERE term='merge') x""".stripMargin),
    "ft_count_fused" -> (ToksCte +
      """SELECT 0 AS qi, count(*) AS cnt FROM (
        |  SELECT doc_id FROM toks WHERE term='order'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='merge') x
        |UNION ALL
        |SELECT 1, count(*) FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'win%'
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term='sort') x
        |UNION ALL
        |SELECT 2, 0
        |ORDER BY qi""".stripMargin),
    // mixed-kind fused batch: count slots emit (qi, cnt AS doc_id, cnt);
    // match/top-k slots replay their solo oracles, tagged by qi
    "ft_msearch_mixed" -> (ToksCte +
      """,
        |c0 AS (SELECT count(*) AS cnt FROM (
        |  SELECT doc_id FROM toks WHERE term='merge'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='window') x),
        |m1 AS (SELECT doc_id FROM toks WHERE term='order'
        |       INTERSECT SELECT doc_id FROM toks WHERE term='merge'),
        |c2 AS (SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'win%'
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term='sort') x),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           (SELECT count(*) FROM toks)*1.0/(SELECT count(*) FROM documents) AS avgl),
        |bscores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id),
        |b10 AS (SELECT doc_id, score FROM bscores ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT 0 AS qi, cnt AS doc_id, CAST(cnt AS DOUBLE) AS score FROM c0
        |UNION ALL SELECT 1, doc_id, 0.0 FROM m1
        |UNION ALL SELECT 2, cnt, CAST(cnt AS DOUBLE) FROM c2
        |UNION ALL SELECT 3, doc_id, score FROM b10
        |ORDER BY qi, doc_id""".stripMargin),
    "ft_match_ids" -> (ToksCte +
      """SELECT doc_id FROM (
        |  SELECT doc_id FROM toks WHERE term='window'
        |  INTERSECT
        |  SELECT doc_id FROM toks WHERE term IN ('hash','sort')) x
        |ORDER BY doc_id""".stripMargin),
    "ft_phrase_count" -> (ToksCte +
      """SELECT count(DISTINCT a.doc_id) AS cnt FROM toks a
        |JOIN toks b ON b.doc_id=a.doc_id AND b.pos=a.pos+1
        |WHERE a.term='key' AND b.term='order'""".stripMargin),
    "ft_phrase2_count" -> (ToksCte +
      """SELECT count(DISTINCT a.doc_id) AS cnt FROM toks a
        |JOIN toks b ON b.doc_id=a.doc_id AND b.pos=a.pos+2
        |WHERE a.term='fast' AND b.term='scan'""".stripMargin),
    "ft_prefix_count" -> (ToksCte +
      """SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'win%'
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term='sort') x""".stripMargin),
    // Cover-density distance for the fixed 2-term AND 'order & window'
    // (reference Cover + calc_score_docr, src/rum_ts_utils.c:855-964,
    // 1209-1328): minimal covers = adjacent different-term occurrence
    // pairs; per cover Cpos=(2/InvSum)*2=0.2 (unweighted, invWeight 10),
    // 1+nNoise=(q-p); the l-th cover of each operand-sequence slot
    // contributes Cpos/(q-p)/l^2/zeta(2); distance = 1/score in float32
    // (CAST AS REAL twice mirrors the engine's float4 arithmetic).
    "ft_topk_cover" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM scores)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    // multi-ORDER-BY-key: identical cover algebra, then LEXICOGRAPHIC
    // (rank distance, addon distance, doc_id) ordering — the second key
    // breaks ties the first key leaves
    "ft_order2" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM scores)
        |SELECT s.doc_id, round(s.d, 4) AS distance,
        |  CAST(abs(dd.n_chars - 600) AS BIGINT) AS dist2
        |FROM dists s JOIN documents dd ON dd.doc_id = s.doc_id
        |ORDER BY s.d, abs(dd.n_chars - 600), s.doc_id LIMIT 10""".stripMargin),
    // fused batch with a composite-ordered (Order2) slot: slot 0 = boolean
    // match, slot 1 = the ft_order2 lexicographic top-10, tagged by qi
    "ft_msearch_order2" -> (ToksCte +
      """,
        |m0 AS (SELECT doc_id FROM toks WHERE term='order'
        |       INTERSECT SELECT doc_id FROM toks WHERE term='merge'),
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM scores),
        |o10 AS (SELECT s.doc_id, s.d FROM dists s
        |        JOIN documents dd ON dd.doc_id = s.doc_id
        |        ORDER BY s.d, abs(dd.n_chars - 600), s.doc_id LIMIT 10)
        |SELECT 0 AS qi, doc_id, 0.0 AS score FROM m0
        |UNION ALL SELECT 1, doc_id, round(d, 4) FROM o10
        |ORDER BY qi, doc_id""".stripMargin),
    // fused msearch: each slot replays its solo oracle, tagged by qi
    "ft_msearch" -> (ToksCte +
      """,
        |m0 AS (SELECT doc_id FROM toks WHERE term='order'
        |       INTERSECT SELECT doc_id FROM toks WHERE term='merge'),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           (SELECT count(*) FROM toks)*1.0/(SELECT count(*) FROM documents) AS avgl),
        |bscores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id),
        |b10 AS (SELECT doc_id, score FROM bscores ORDER BY score DESC, doc_id LIMIT 10),
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |cscores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |            FROM numbered GROUP BY doc_id),
        |c10 AS (SELECT doc_id,
        |          CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |        FROM cscores ORDER BY d, doc_id LIMIT 10)
        |SELECT 0 AS qi, doc_id, 0.0 AS score FROM m0
        |UNION ALL SELECT 1, doc_id, score FROM b10
        |UNION ALL SELECT 2, doc_id, round(d, 4) FROM c10
        |ORDER BY qi, doc_id""".stripMargin),
    "ft_topk_bm25" -> (ToksCte +
      """,
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           (SELECT count(*) FROM toks)*1.0/(SELECT count(*) FROM documents) AS avgl),
        |scores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |FROM scores ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    "ft_topk_bm25_batch" -> (ToksCte +
      """,
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           (SELECT count(*) FROM toks)*1.0/(SELECT count(*) FROM documents) AS avgl),
        |tf0 AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |        WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df0 AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |        WHERE term IN ('merge','window','vector') GROUP BY 1),
        |s0 AS (SELECT 0 AS qi, tf0.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf0 JOIN df0 USING(term) JOIN lens ON lens.doc_id=tf0.doc_id CROSS JOIN consts
        |  GROUP BY tf0.doc_id),
        |tf1 AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |        WHERE term IN ('stream','data','hash') GROUP BY 1,2),
        |df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |        WHERE term IN ('stream','data','hash') GROUP BY 1),
        |s1 AS (SELECT 1 AS qi, tf1.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf1 JOIN df1 USING(term) JOIN lens ON lens.doc_id=tf1.doc_id CROSS JOIN consts
        |  GROUP BY tf1.doc_id),
        |sel AS (SELECT qi, doc_id, score,
        |    row_number() OVER (PARTITION BY qi ORDER BY score DESC, doc_id) AS rank
        |  FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1))
        |SELECT qi, doc_id, score, rank FROM sel WHERE rank <= 10
        |ORDER BY qi, rank""".stripMargin),
    "ft_fuzzy_sample" -> (ToksCte +
      """, m AS (
        |  SELECT doc_id FROM toks WHERE term='merge'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='window'),
        |pred AS (SELECT least(
        |  (SELECT count(DISTINCT doc_id) FROM toks WHERE term='merge'),
        |  (SELECT count(DISTINCT doc_id) FROM toks WHERE term='window')) AS p)
        |SELECT doc_id FROM m, pred
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000
        |      < CAST(FLOOR(50.0/p*1000000) AS BIGINT)
        |ORDER BY doc_id""".stripMargin),
    "ft_multicol" -> (ToksCte +
      """SELECT doc_id FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term='merge'
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'win%'
        |  INTERSECT SELECT doc_id FROM documents WHERE lang IN ('en','de')) x
        |ORDER BY doc_id""".stripMargin),
    // multicolumn rank oracle: identical cover algebra to ft_topk_cover,
    // with the candidate doc set narrowed by the lang predicate (the text
    // query alone defines the rank; lang is a boolean filter)
    "ft_multicol_rank" -> (ToksCte +
      """,
        |occ AS (SELECT t.doc_id, t.pos, t.term FROM toks t
        |        JOIN documents dd ON dd.doc_id = t.doc_id AND dd.lang = 'en'
        |        WHERE t.term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM scores)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    "ft_multicol_addon" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars, CAST(abs(d.n_chars - 600) AS BIGINT) AS dist
        |FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |  AND d.lang IN ('en','de')
        |ORDER BY dist, d.doc_id LIMIT 10""".stripMargin),
    // field-scoped BM25: df and doc len come from the text field; avgLen is
    // the index-global average (text tokens + one lang token per doc),
    // mirroring the engine's meta.avgLen
    "ft_multicol_bm25" -> (ToksCte +
      """,
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           ((SELECT count(*) FROM toks)
        |            + (SELECT sum(len(regexp_extract_all(lower(lang), '[a-z0-9]+')))
        |               FROM documents))*1.0
        |           /(SELECT count(*) FROM documents) AS avgl),
        |scores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |FROM scores ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // fused multicolumn msearch: each slot replays its solo multicol oracle
    "ft_msearch_multi" -> (ToksCte +
      """,
        |m0 AS (SELECT doc_id FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term='merge'
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'win%'
        |  INTERSECT SELECT doc_id FROM documents WHERE lang IN ('en','de')) x),
        |occ AS (SELECT t.doc_id, t.pos, t.term FROM toks t
        |        JOIN documents dd ON dd.doc_id = t.doc_id AND dd.lang = 'en'
        |        WHERE t.term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |cscores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |            FROM numbered GROUP BY doc_id),
        |c10 AS (SELECT doc_id,
        |          CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |        FROM cscores ORDER BY d, doc_id LIMIT 10),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           ((SELECT count(*) FROM toks)
        |            + (SELECT sum(len(regexp_extract_all(lower(lang), '[a-z0-9]+')))
        |               FROM documents))*1.0
        |           /(SELECT count(*) FROM documents) AS avgl),
        |bscores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id),
        |b10 AS (SELECT doc_id, score FROM bscores ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT 0 AS qi, doc_id, 0.0 AS score FROM m0
        |UNION ALL SELECT 1, doc_id, round(d, 4) FROM c10
        |UNION ALL SELECT 2, doc_id, score FROM b10
        |ORDER BY qi, doc_id""".stripMargin),
    // LOGLENGTH norm: cover score divided by ln(len+1) before inversion
    "ft_rank_norm" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |scores AS (SELECT n.doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered n GROUP BY n.doc_id),
        |normed AS (SELECT s.doc_id, s.score/ln(lens.len + 1.0) AS score
        |           FROM scores s JOIN lens ON lens.doc_id = s.doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM normed)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    // EXTDIST oracle: covers emitted in forward-scan order (increasing p);
    // extent position = (p+q)/2; sumDist = Σ 1/(ext − prevExt) over
    // consecutive covers with increasing ext; score ÷= nExtent/sumDist
    "ft_rank_extdist" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |exts AS (SELECT doc_id, (p + q)/2.0 AS ext,
        |         lag((p + q)/2.0) OVER (PARTITION BY doc_id ORDER BY p) AS pext
        |         FROM covers),
        |sums AS (SELECT doc_id, count(*) AS next,
        |         sum(CASE WHEN pext IS NOT NULL AND ext > pext THEN 1.0/(ext - pext) END) AS sumdist
        |         FROM exts GROUP BY doc_id),
        |normed AS (SELECT s.doc_id,
        |           CASE WHEN m.next > 0 AND coalesce(m.sumdist, 0) > 0
        |                THEN s.score / (m.next / m.sumdist) ELSE s.score END AS score
        |           FROM scores s JOIN sums m ON m.doc_id = s.doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM normed)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    "ft_rank_rdiv" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1 FROM seq
        |           WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum(0.2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id,
        |          CAST(CAST(1.0 AS REAL)/CAST(score/(score + 1) AS REAL) AS DOUBLE) AS d
        |          FROM scores)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    "ft_hash_count" -> (ToksCte +
      """SELECT count(*) AS cnt FROM (
        |  SELECT doc_id FROM toks WHERE term='order'
        |  INTERSECT SELECT doc_id FROM toks WHERE term='merge'
        |  EXCEPT SELECT doc_id FROM toks WHERE term='stream') x""".stripMargin),
    "ft_hash_topk" -> (ToksCte +
      """,
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1,2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |       WHERE term IN ('merge','window','vector') GROUP BY 1),
        |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n,
        |           (SELECT count(*) FROM toks)*1.0/(SELECT count(*) FROM documents) AS avgl),
        |scores AS (
        |  SELECT tf.doc_id,
        |    round(sum(ln(1+(n-df+0.5)/(df+0.5)) * (tf*2.2)/(tf+1.2*(0.25+0.75*len/avgl))),4) AS score
        |  FROM tf JOIN df USING(term) JOIN lens ON lens.doc_id=tf.doc_id CROSS JOIN consts
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |FROM scores ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    "ft_weighted_count" -> (ToksCte +
      """SELECT count(*) AS cnt FROM (
        |  SELECT DISTINCT doc_id FROM toks WHERE term='merge' AND pos<=8
        |  INTERSECT SELECT DISTINCT doc_id FROM toks WHERE term='window') x""".stripMargin),
    // Weighted cover oracle: invWeight 1 for class-A endpoints (pos<=8),
    // 10 for class D; Cpos=(2/InvSum)*2 — otherwise as ft_topk_cover.
    "ft_weighted_rank" -> (ToksCte +
      """,
        |occ AS (SELECT doc_id, pos, term FROM toks WHERE term IN ('order','window')),
        |seq AS (SELECT doc_id, pos, term,
        |        lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS q,
        |        lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm
        |        FROM occ),
        |covers AS (SELECT doc_id, pos AS p, q, term AS t1,
        |           CASE WHEN pos<=8 THEN 1.0 ELSE 10.0 END
        |             + CASE WHEN q<=8 THEN 1.0 ELSE 10.0 END AS invsum
        |           FROM seq WHERE nterm IS NOT NULL AND nterm <> term),
        |numbered AS (SELECT doc_id, p, q, invsum, t1,
        |             row_number() OVER (PARTITION BY doc_id, t1 ORDER BY p) AS l
        |             FROM covers),
        |scores AS (SELECT doc_id, sum((2.0/invsum)*2/(q - p)/(l*l)/1.64493406685) AS score
        |           FROM numbered GROUP BY doc_id),
        |dists AS (SELECT doc_id, CAST(CAST(1.0 AS REAL)/CAST(score AS REAL) AS DOUBLE) AS d
        |          FROM scores)
        |SELECT doc_id, round(d, 4) AS distance
        |FROM dists ORDER BY d, doc_id LIMIT 10""".stripMargin),
    "ft_addon_topk" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars, CAST(abs(d.n_chars - 600) AS BIGINT) AS dist
        |FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |ORDER BY dist, d.doc_id LIMIT 10""".stripMargin),
    "ft_addon_left" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |  AND d.n_chars <= 600
        |ORDER BY 600 - d.n_chars, d.doc_id LIMIT 5""".stripMargin),
    "ft_addon_range" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |  AND d.n_chars BETWEEN 400 AND 700
        |ORDER BY d.n_chars, d.doc_id""".stripMargin),
    "ft_facet_addon" -> (ToksCte +
      """SELECT CAST(400 + ((d.n_chars - 400) // 50) * 50 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |  AND d.n_chars BETWEEN 400 AND 700
        |GROUP BY 1 ORDER BY bucket""".stripMargin),
    "ft_facet_or" -> (ToksCte +
      """SELECT CAST((d.n_chars // 100) * 100 AS BIGINT) AS bucket,
        |  count(*) AS cnt
        |FROM documents d
        |WHERE (d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |    OR d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |  AND d.n_chars BETWEEN 0 AND 1000
        |GROUP BY 1 ORDER BY bucket""".stripMargin),
    "ft_msearch_facet" -> (ToksCte +
      """, mw AS (SELECT d.doc_id, d.n_chars FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')),
        |morw AS (SELECT d.doc_id, d.n_chars FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |       OR d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |SELECT 0 AS qi, CAST(400 + ((n_chars - 400) // 50) * 50 AS BIGINT) AS key,
        |    count(*) AS val
        |  FROM mw WHERE n_chars BETWEEN 400 AND 700 GROUP BY 2
        |UNION ALL
        |SELECT 1, (SELECT count(*) FROM morw), (SELECT count(*) FROM morw)
        |UNION ALL
        |SELECT 2, CAST((n_chars // 100) * 100 AS BIGINT), count(*)
        |  FROM morw WHERE n_chars BETWEEN 0 AND 1000 GROUP BY 2
        |ORDER BY qi, key""".stripMargin),
    "ft_addon_signed" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars - 600 AS n_signed,
        |  CAST(abs(d.n_chars - 600) AS BIGINT) AS dist
        |FROM documents d
        |WHERE d.n_chars % 7 <> 0
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |ORDER BY dist, d.doc_id LIMIT 10""".stripMargin),
    "ft_empty_count" ->
      "SELECT count(*) AS cnt FROM documents WHERE n_chars % 7 = 0",
    "ft_msearch_addon" -> (ToksCte +
      """, m AS (SELECT d.doc_id, d.n_chars FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |SELECT 0 AS qi, d.doc_id, CAST(0 AS BIGINT) AS dist FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='order')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |UNION ALL
        |SELECT 1 AS qi, x.doc_id, x.dist FROM (
        |  SELECT doc_id, CAST(abs(n_chars - 600) AS BIGINT) AS dist
        |  FROM m ORDER BY dist, doc_id LIMIT 10) x
        |UNION ALL
        |SELECT 2 AS qi, doc_id, CAST(0 AS BIGINT) AS dist FROM m
        |WHERE n_chars BETWEEN 400 AND 700
        |ORDER BY qi, doc_id""".stripMargin),
    "ft_msearch_float" -> (ToksCte +
      """, m AS (SELECT d.doc_id, d.n_chars/7.0 AS f FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |SELECT 0 AS qi, d.doc_id, CAST(0.0 AS DOUBLE) AS dist FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='order')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |UNION ALL
        |SELECT 1 AS qi, x.doc_id, x.dist FROM (
        |  SELECT doc_id, abs(f - CAST(85.5 AS DOUBLE)) AS dist
        |  FROM m ORDER BY dist, doc_id LIMIT 10) x
        |UNION ALL
        |SELECT 2 AS qi, doc_id, CAST(0.0 AS DOUBLE) AS dist FROM m
        |WHERE f BETWEEN CAST(57.0 AS DOUBLE) AND CAST(100.0 AS DOUBLE)
        |ORDER BY qi, doc_id""".stripMargin),
    "ft_addon_ts" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  CAST(abs(epoch_us(ts) - 1705276800000000) AS BIGINT) AS dist
        |FROM events
        |WHERE list_contains(regexp_extract_all(lower(props), '[a-z0-9]+'), '69')
        |ORDER BY dist, event_id LIMIT 10""".stripMargin,
    "ft_facet_day" ->
      """SELECT CAST(1704067200000000 +
        |    ((epoch_us(ts) - 1704067200000000) // 86400000000) * 86400000000
        |    AS BIGINT) AS day_us,
        |  count(*) AS cnt
        |FROM events
        |WHERE list_contains(regexp_extract_all(lower(props), '[a-z0-9]+'), '69')
        |  AND epoch_us(ts) BETWEEN 1704067200000000 AND 1706745599999999
        |GROUP BY 1 ORDER BY day_us""".stripMargin,
    "ft_facet_float" -> (ToksCte +
      """SELECT 0.0 + floor((d.n_chars/7.0 - 0.0) / 20.0) * 20.0 AS bucket,
        |  count(*) AS cnt
        |FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |  AND d.n_chars/7.0 BETWEEN 0.0 AND 200.0
        |GROUP BY 1 ORDER BY bucket""".stripMargin),
    "ft_msearch_facetf" -> (ToksCte +
      """, mw AS (SELECT d.doc_id, d.n_chars/7.0 AS f FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')),
        |morw AS (SELECT d.doc_id, d.n_chars/7.0 AS f FROM documents d
        |    WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |       OR d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |SELECT 0 AS qi, floor(f/20.0)*20.0 AS bucket, count(*) AS cnt
        |  FROM mw WHERE f BETWEEN 0.0 AND 200.0 GROUP BY 2
        |UNION ALL
        |SELECT 1, floor(f/50.0)*50.0, count(*)
        |  FROM morw WHERE f BETWEEN 0.0 AND 250.0 GROUP BY 2
        |ORDER BY qi, bucket""".stripMargin),
    "ft_msearch_empty" -> (ToksCte +
      """, mw AS (SELECT d.doc_id FROM documents d
        |    WHERE d.n_chars % 7 <> 0
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |      AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')),
        |emp AS (SELECT doc_id FROM documents WHERE n_chars % 7 = 0)
        |SELECT 0 AS qi, (SELECT count(*) FROM emp) AS key,
        |    (SELECT count(*) FROM emp) AS val
        |UNION ALL
        |SELECT 1, (SELECT count(*) FROM mw), (SELECT count(*) FROM mw)
        |UNION ALL
        |SELECT 2, doc_id, CAST(0 AS BIGINT) FROM emp
        |ORDER BY qi, key""".stripMargin),
    "ft_addon_float" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars/7.0 AS f,
        |  abs(d.n_chars/7.0 - 85.5) AS dist
        |FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |  AND d.doc_id IN (SELECT doc_id FROM toks WHERE term='window')
        |ORDER BY dist, d.doc_id LIMIT 10""".stripMargin),
    "ft_addon_signed_or" -> (ToksCte +
      """SELECT d.doc_id, d.n_chars - 600 AS n_signed,
        |  CAST(abs(d.n_chars - 550) AS BIGINT) AS dist
        |FROM documents d
        |WHERE d.n_chars % 7 <> 0
        |  AND (d.doc_id IN (SELECT doc_id FROM toks WHERE term='merge')
        |       OR d.doc_id IN (SELECT doc_id FROM toks WHERE term='window'))
        |ORDER BY dist, d.doc_id LIMIT 10""".stripMargin),
    "ft_df" -> (ToksCte +
      """SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |WHERE term IN ('merge','window','vector','the','zzzabsent')
        |GROUP BY term ORDER BY term""".stripMargin),
    "ft_tf" -> (ToksCte +
      """SELECT doc_id, CAST(count(*) AS INTEGER) AS tf FROM toks WHERE term='merge'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "ft_doclen" -> (ToksCte +
      """SELECT d.doc_id, CAST(coalesce(t.len,0) AS INTEGER) AS len
        |FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1) t
        |ON d.doc_id=t.doc_id ORDER BY d.doc_id""".stripMargin),
    "arr_similarity" -> (ToksCte +
      """, ds AS (
        |  SELECT doc_id, count(DISTINCT term) AS n_uniq,
        |    count(DISTINCT CASE WHEN term IN ('merge','window','vector') THEN term END) AS i_cnt
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, CAST(i_cnt AS BIGINT) AS i_cnt, CAST(n_uniq AS BIGINT) AS n_uniq,
        |  row_number() OVER (ORDER BY i_cnt*i_cnt*1.0/n_uniq DESC, doc_id) AS rnk
        |FROM ds WHERE i_cnt > 0
        |ORDER BY rnk LIMIT 20""".stripMargin),
    // array ordered scan: dist replays the engine's exact double algebra
    // 1/(i/sqrt(n·3)) — NOT the algebraically-equal sqrt(n·3)/i, which can
    // differ in the last ulp — so the doubles agree bit-exactly
    "arr_order" -> (ToksCte +
      """, ds AS (
        |  SELECT doc_id, count(DISTINCT term) AS n_uniq,
        |    count(DISTINCT CASE WHEN term IN ('merge','window','vector') THEN term END) AS i_cnt
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id,
        |  1.0/(CAST(i_cnt AS DOUBLE)/sqrt(CAST(n_uniq AS DOUBLE)*3.0)) AS dist,
        |  CAST(i_cnt AS BIGINT) AS i_cnt, CAST(n_uniq AS BIGINT) AS n_uniq
        |FROM ds WHERE i_cnt > 0
        |ORDER BY dist, doc_id LIMIT 10""".stripMargin),
    "inv_query_match" -> (ToksCte +
      """, m AS (
        |  SELECT doc_id,
        |    bool_or(term='merge') AS has_merge, bool_or(term='window') AS has_window,
        |    bool_or(term='vector') AS has_vector, bool_or(term='stream') AS has_stream,
        |    bool_or(term='order') AS has_order, bool_or(term='sort') AS has_sort,
        |    bool_or(term LIKE 'win%') AS has_winp
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, query_id FROM (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS query_id FROM m WHERE has_merge AND has_window
        |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM m WHERE has_vector OR has_stream
        |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT) FROM m WHERE NOT has_merge AND has_order
        |  UNION ALL SELECT doc_id, CAST(4 AS BIGINT) FROM m WHERE has_winp AND has_sort) x
        |ORDER BY doc_id, query_id""".stripMargin),
    "dedup_exact" ->
      """SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS grp_size,
        |min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_minhash_sig" -> (ShingCte +
      """,
        |seeds AS (SELECT CAST(unnest(range(0,4)) AS INTEGER) AS seed)
        |SELECT doc_id, seed,
        |  min(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || sh),1,15) AS BIGINT)) AS minhash
        |FROM shing, seeds GROUP BY doc_id, seed ORDER BY doc_id, seed""".stripMargin),
    "dedup_minhash_pairs" -> (ShingCte +
      """,
        |seeds AS (SELECT CAST(unnest(range(0,4)) AS INTEGER) AS seed),
        |sig AS (SELECT doc_id, seed,
        |  min(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || sh),1,15) AS BIGINT)) AS minhash
        |  FROM shing, seeds GROUP BY doc_id, seed)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM sig a JOIN sig b ON a.seed=b.seed AND a.minhash=b.minhash AND a.doc_id<b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),
    "dedup_simhash" -> (ToksCte +
      """,
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2),
        |th AS (SELECT doc_id, tf, CAST('0x' || substr(md5(term),1,15) AS BIGINT) AS h FROM tf),
        |bits AS (SELECT CAST(unnest(range(0,16)) AS INTEGER) AS b),
        |sums AS (SELECT doc_id, b,
        |  sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS v
        |  FROM th, bits GROUP BY 1,2)
        |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "dedup_jaccard_pairs" -> (ShingCte +
      """,
        |ss AS (SELECT DISTINCT doc_id, sh FROM shing),
        |sizes AS (SELECT doc_id, count(*) AS c FROM ss GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM ss a JOIN ss b ON a.sh=b.sh AND b.doc_id=a.doc_id+1 GROUP BY 1,2)
        |SELECT doc_a, doc_b, i AS i_sh, ca.c+cb.c-i AS u_sh
        |FROM inter JOIN sizes ca ON ca.doc_id=doc_a JOIN sizes cb ON cb.doc_id=doc_b
        |ORDER BY doc_a, doc_b""".stripMargin),
    // verify step: exact jaccard over the minhash CANDIDATE pairs only,
    // θ = 0.5 as the exact integer predicate 2·i ≥ u
    "dedup_verify_pairs" -> (ShingCte +
      """,
        |seeds AS (SELECT CAST(unnest(range(0,4)) AS INTEGER) AS seed),
        |sig AS (SELECT doc_id, seed,
        |  min(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || sh),1,15) AS BIGINT)) AS minhash
        |  FROM shing, seeds GROUP BY doc_id, seed),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.seed=b.seed AND a.minhash=b.minhash AND a.doc_id<b.doc_id),
        |ss AS (SELECT DISTINCT doc_id, sh FROM shing),
        |sizes AS (SELECT doc_id, count(*) AS c FROM ss GROUP BY 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS i
        |  FROM cand p JOIN ss a ON a.doc_id=p.doc_a
        |  JOIN ss b ON b.doc_id=p.doc_b AND b.sh=a.sh GROUP BY 1,2)
        |SELECT doc_a, doc_b, i AS i_sh, ca.c+cb.c-i AS u_sh
        |FROM inter JOIN sizes ca ON ca.doc_id=doc_a JOIN sizes cb ON cb.doc_id=doc_b
        |WHERE 2*i >= ca.c+cb.c-i
        |ORDER BY doc_a, doc_b""".stripMargin),
    // exact transitive closure of the VERIFIED near-dup pair graph
    // (candidates → exact-jaccard θ=0.5 → closure) via recursive CTE;
    // rep = min reachable docId, isolated docs rep = self
    "dedup_cluster" -> ClusterOracle,
    "dedup_cluster_star" -> ClusterOracle,
    "fingerprint_bottomk" -> (ShingCte +
      """,
        |ss AS (SELECT DISTINCT doc_id, sh FROM shing),
        |hs AS (SELECT doc_id, sh, CAST('0x' || substr(md5(sh),1,15) AS BIGINT) AS h FROM ss)
        |SELECT doc_id, h, rank FROM (
        |  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h, sh) AS rank
        |  FROM hs) x
        |WHERE rank <= 4 ORDER BY doc_id, rank""".stripMargin),
    "dedup_ngram_spans" -> (ToksCte +
      """,
        |g AS (SELECT doc_id, pos,
        |  term || ' ' || lead(term,1) OVER w || ' ' || lead(term,2) OVER w
        |    || ' ' || lead(term,3) OVER w || ' ' || lead(term,4) OVER w
        |    || ' ' || lead(term,5) OVER w || ' ' || lead(term,6) OVER w
        |    || ' ' || lead(term,7) OVER w AS gs
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |gr AS (SELECT doc_id, CAST('0x' || substr(md5(gs),1,15) AS BIGINT) AS gram
        |  FROM g WHERE gs IS NOT NULL),
        |dup AS (SELECT gram FROM gr GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, count(*) AS total_windows FROM gr GROUP BY 1),
        |dw AS (SELECT gr.doc_id, count(*) AS dup_windows
        |  FROM gr JOIN dup USING(gram) GROUP BY 1)
        |SELECT doc_id, dup_windows, total_windows FROM dw JOIN tot USING(doc_id)
        |ORDER BY doc_id""".stripMargin),
    "dedup_ngram_maxspans" -> (ToksCte +
      """,
        |g AS (SELECT doc_id, pos,
        |  term || ' ' || lead(term,1) OVER w || ' ' || lead(term,2) OVER w
        |    || ' ' || lead(term,3) OVER w || ' ' || lead(term,4) OVER w
        |    || ' ' || lead(term,5) OVER w || ' ' || lead(term,6) OVER w
        |    || ' ' || lead(term,7) OVER w AS gs
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |gr AS (SELECT doc_id, pos, CAST('0x' || substr(md5(gs),1,15) AS BIGINT) AS gram
        |  FROM g WHERE gs IS NOT NULL),
        |dup AS (SELECT gram FROM gr GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |ds AS (SELECT gr.doc_id, pos FROM gr JOIN dup USING(gram)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM ds)
        |SELECT doc_id, min(pos) AS start_pos, count(*) AS n_windows,
        |  count(*) + 7 AS span_tokens
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, start_pos""".stripMargin),
    "text_tfidf" -> (ToksCte +
      """,
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, tf.term,
        |    round(tf * ln(n*1.0/df), 6) AS tfidf
        |  FROM tf JOIN dfx ON dfx.term = tf.term CROSS JOIN n),
        |rk AS (SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, term, tfidf, rank FROM rk WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin),
    "text_stopwords" -> (ToksCte +
      """,
        |d AS (SELECT DISTINCT doc_id, term FROM toks)
        |SELECT term, count(*) AS df FROM d GROUP BY term
        |ORDER BY df DESC, term ASC LIMIT 25""".stripMargin),
    "text_quality" -> (ToksCte +
      """SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_uniq,
        |CAST(sum(length(term)) AS BIGINT) AS total_len,
        |CAST(sum(CASE WHEN term IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "token_counts" ->
      """SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS ws_tokens,
        |len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST((length(t)-length(replace(t,' the ','')))/5 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' a ','')))/3 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' of ','')))/4 AS BIGINT) AS s_en,
        |  CAST((length(t)-length(replace(t,' der ','')))/5 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' die ','')))/5 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' und ','')))/5 AS BIGINT) AS s_de,
        |  CAST((length(t)-length(replace(t,' el ','')))/4 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' los ','')))/5 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' una ','')))/5 AS BIGINT) AS s_es,
        |  CAST((length(t)-length(replace(t,' le ','')))/4 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' les ','')))/5 AS BIGINT)
        |    + CAST((length(t)-length(replace(t,' et ','')))/4 AS BIGINT) AS s_fr
        |FROM p)
        |SELECT doc_id, s_en, s_de, s_es, s_fr,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "fingerprint_winnow" -> (ShingCte +
      """,
        |hs AS (SELECT doc_id, pos, CAST('0x' || substr(md5(sh),1,15) AS BIGINT) AS h FROM shing),
        |mins AS (SELECT doc_id, pos,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS minh
        |  FROM hs)
        |SELECT DISTINCT doc_id, minh AS h FROM mins WHERE pos >= 5
        |ORDER BY doc_id, h""".stripMargin),
    "ann_lsh_topk" -> (EmbCte +
      """,
        |qb AS (SELECT t, bucket FROM sig WHERE vec_id=0),
        |qe AS (SELECT i, x FROM elems WHERE vec_id=0),
        |qn AS (SELECT sqrt(sum(x*x)) AS qn FROM qe),
        |cand AS (SELECT DISTINCT s.vec_id FROM sig s JOIN qb ON s.t=qb.t AND s.bucket=qb.bucket),
        |dots AS (SELECT e.vec_id, sum(e.x*q.x) AS dot
        |  FROM elems e JOIN qe q USING(i) JOIN cand c ON c.vec_id=e.vec_id GROUP BY 1)
        |SELECT d.vec_id, round(dot/(n.nrm*qn.qn),4) AS sim,
        |  row_number() OVER (ORDER BY round(dot/(n.nrm*qn.qn),4) DESC, d.vec_id) AS rank
        |FROM dots d JOIN nrm n USING(vec_id) CROSS JOIN qn
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    // IVF oracle: centroids = vectors 0..7; per-vector assignment = argmax
    // cosine (12-dec quantized, smaller cid ties); probe = query's top-2
    // centroids; exact rerank inside probed clusters.
    "ann_ivf_topk" -> (EmbCte +
      """,
        |cents AS (SELECT vec_id AS cid, i, x FROM elems WHERE vec_id < 8),
        |cnrm AS (SELECT cid, sqrt(sum(x*x)) AS cn FROM cents GROUP BY 1),
        |sims AS (SELECT v.vec_id, c.cid, round(sum(v.x*c.x)/(n.nrm*cn.cn), 12) AS s
        |  FROM elems v JOIN cents c ON c.i=v.i
        |  JOIN nrm n ON n.vec_id=v.vec_id JOIN cnrm cn ON cn.cid=c.cid
        |  GROUP BY v.vec_id, c.cid, n.nrm, cn.cn),
        |assign AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |  FROM sims) x WHERE rn=1),
        |qprobe AS (SELECT cid FROM (
        |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) AS rn
        |  FROM sims WHERE vec_id=0) x WHERE rn<=2),
        |cand AS (SELECT a.vec_id, a.cluster FROM assign a JOIN qprobe p ON a.cluster=p.cid),
        |qe AS (SELECT i, x FROM elems WHERE vec_id=0),
        |qn AS (SELECT sqrt(sum(x*x)) AS qn FROM qe),
        |dots AS (SELECT e.vec_id, sum(e.x*q.x) AS dot
        |  FROM elems e JOIN qe q USING(i) JOIN cand c ON c.vec_id=e.vec_id GROUP BY 1)
        |SELECT d.vec_id, round(dot/(n.nrm*qn.qn),4) AS sim, c.cluster,
        |  row_number() OVER (ORDER BY round(dot/(n.nrm*qn.qn),4) DESC, d.vec_id) AS rank
        |FROM dots d JOIN nrm n USING(vec_id) JOIN cand c USING(vec_id) CROSS JOIN qn
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    // Trained-IVF oracle: the SQL replays the ENTIRE deterministic k-means
    // (hash-ordered 64-row sample, seeds = first 8, two unrolled Lloyd's
    // iterations with 12-dec quantized argmax assignment and 9-dec rounded
    // means, empty clusters carrying forward), then assignment + probe +
    // exact rerank — byte-for-byte the engine's pinned tie rules.
    "ann_ivf_kmeans_topk" -> (EmbCte +
      """,
        |samp AS (SELECT vec_id, row_number() OVER (
        |    ORDER BY CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15) AS BIGINT), vec_id) AS rn
        |  FROM e),
        |s64 AS (SELECT vec_id, rn FROM samp WHERE rn <= 64),
        |c0 AS (SELECT s.rn - 1 AS cid, el.i, el.x
        |  FROM s64 s JOIN elems el ON el.vec_id = s.vec_id WHERE s.rn <= 8),
        |cn0 AS (SELECT cid, sqrt(sum(x*x)) AS cn FROM c0 GROUP BY 1),
        |sim0 AS (SELECT v.vec_id, c.cid, round(sum(v.x*c.x)/(n.nrm*cn.cn), 12) AS s
        |  FROM s64 sv JOIN elems v ON v.vec_id = sv.vec_id
        |  JOIN c0 c ON c.i = v.i JOIN nrm n ON n.vec_id = v.vec_id JOIN cn0 cn ON cn.cid = c.cid
        |  GROUP BY v.vec_id, c.cid, n.nrm, cn.cn),
        |a0 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sim0) x
        |  WHERE rn = 1),
        |m0 AS (SELECT a.cid, el.i, round(avg(el.x), 9) AS mx
        |  FROM a0 a JOIN elems el ON el.vec_id = a.vec_id GROUP BY 1,2),
        |c1 AS (SELECT c0.cid, c0.i, coalesce(m0.mx, c0.x) AS x
        |  FROM c0 LEFT JOIN m0 ON m0.cid = c0.cid AND m0.i = c0.i),
        |cn1 AS (SELECT cid, sqrt(sum(x*x)) AS cn FROM c1 GROUP BY 1),
        |sim1 AS (SELECT v.vec_id, c.cid, round(sum(v.x*c.x)/(n.nrm*cn.cn), 12) AS s
        |  FROM s64 sv JOIN elems v ON v.vec_id = sv.vec_id
        |  JOIN c1 c ON c.i = v.i JOIN nrm n ON n.vec_id = v.vec_id JOIN cn1 cn ON cn.cid = c.cid
        |  GROUP BY v.vec_id, c.cid, n.nrm, cn.cn),
        |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sim1) x
        |  WHERE rn = 1),
        |m1 AS (SELECT a.cid, el.i, round(avg(el.x), 9) AS mx
        |  FROM a1 a JOIN elems el ON el.vec_id = a.vec_id GROUP BY 1,2),
        |c2 AS (SELECT c1.cid, c1.i, coalesce(m1.mx, c1.x) AS x
        |  FROM c1 LEFT JOIN m1 ON m1.cid = c1.cid AND m1.i = c1.i),
        |cn2 AS (SELECT cid, sqrt(sum(x*x)) AS cn FROM c2 GROUP BY 1),
        |simsK AS (SELECT v.vec_id, c.cid, round(sum(v.x*c.x)/(n.nrm*cn.cn), 12) AS s
        |  FROM elems v JOIN c2 c ON c.i = v.i
        |  JOIN nrm n ON n.vec_id = v.vec_id JOIN cn2 cn ON cn.cid = c.cid
        |  GROUP BY v.vec_id, c.cid, n.nrm, cn.cn),
        |assignK AS (SELECT vec_id, cid AS cluster FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        |  FROM simsK) x WHERE rn = 1),
        |qprobeK AS (SELECT cid FROM (
        |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) AS rn
        |  FROM simsK WHERE vec_id = 0) x WHERE rn <= 2),
        |candK AS (SELECT a.vec_id, a.cluster FROM assignK a JOIN qprobeK p ON a.cluster = p.cid),
        |qeK AS (SELECT i, x FROM elems WHERE vec_id = 0),
        |qnK AS (SELECT sqrt(sum(x*x)) AS qn FROM qeK),
        |dotsK AS (SELECT e2.vec_id, sum(e2.x*q.x) AS dot
        |  FROM elems e2 JOIN qeK q USING(i) JOIN candK c ON c.vec_id = e2.vec_id GROUP BY 1)
        |SELECT d.vec_id, round(dot/(n.nrm*qnK.qn),4) AS sim, c.cluster,
        |  row_number() OVER (ORDER BY round(dot/(n.nrm*qnK.qn),4) DESC, d.vec_id) AS rank
        |FROM dotsK d JOIN nrm n USING(vec_id) JOIN candK c USING(vec_id) CROSS JOIN qnK
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
    "dedup_embed_lsh" -> (EmbCte +
      """,
        |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM sig a JOIN sig b ON a.t=b.t AND a.bucket=b.bucket AND a.vec_id<b.vec_id),
        |dots AS (SELECT p.vec_a, p.vec_b, sum(ea.x*eb.x) AS dot
        |  FROM pairs p JOIN elems ea ON ea.vec_id=p.vec_a
        |  JOIN elems eb ON eb.vec_id=p.vec_b AND eb.i=ea.i GROUP BY 1,2)
        |SELECT d.vec_a, d.vec_b, round(dot/(na.nrm*nb.nrm),4) AS sim
        |FROM dots d JOIN nrm na ON na.vec_id=d.vec_a JOIN nrm nb ON nb.vec_id=d.vec_b
        |WHERE dot/(na.nrm*nb.nrm) >= 0.40
        |ORDER BY vec_a, vec_b""".stripMargin),
    // byte-exact twin of BinaryPipeline: encode() gives the UTF-8 payload
    // bytes (multi-byte chars and empty docs handled — hex pairs, LEFT
    // JOIN), matching the Spark side's byte semantics exactly
    "mm_features" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
        |  octet_length(encode(text)) AS n FROM documents),
        |bytes AS (SELECT doc_id, CAST('0x' || substr(h, CAST(2*g.i-1 AS INTEGER), 2) AS INTEGER) AS v
        |  FROM b, LATERAL (SELECT unnest(range(1, n+1)) AS i) g)
        |SELECT b.doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  CAST((n*31)%64 + 1 AS INTEGER) AS width,
        |  CAST(coalesce(sum(v),0) AS BIGINT) AS sum_bytes,
        |  CAST(coalesce(sum(CASE WHEN v=0 THEN 1 ELSE 0 END),0) AS BIGINT) AS histo_0,
        |  CAST(count(DISTINCT v) AS INTEGER) AS distinct_bytes
        |FROM b LEFT JOIN bytes USING(doc_id) GROUP BY b.doc_id, n
        |ORDER BY doc_id""".stripMargin,
    "ann_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id=0),
        |pairs AS (SELECT vec_id, e.embedding AS ee, qe FROM embeddings e, q),
        |elems AS (SELECT vec_id, CAST(ee[g.i] AS DOUBLE) AS a, CAST(qe[g.i] AS DOUBLE) AS b
        |  FROM pairs, LATERAL (SELECT unnest(range(1, len(ee)+1)) AS i) g),
        |s AS (SELECT vec_id, sum(a*b) AS dot, sqrt(sum(a*a)) AS na, sqrt(sum(b*b)) AS nb
        |  FROM elems GROUP BY 1)
        |SELECT vec_id, round(dot/(na*nb),4) AS sim,
        |  row_number() OVER (ORDER BY round(dot/(na*nb),4) DESC, vec_id) AS rank
        |FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
}
