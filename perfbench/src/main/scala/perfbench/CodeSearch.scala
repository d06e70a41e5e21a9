package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{count, lit}

import graft.search.Searcher
import graft.search.Searcher.MsearchSpec

/** The search phase of the code workloads: a stream of unique ad-hoc
  * queries over a code-corpus index, then the same queries replayed as
  * fused `msearch` batches. Catalyst planning, the postings scan, the
  * per-shard kernels and the global top-k do the work; tokenize and pack do
  * none. Every query string is new to the searcher, so its plan cache never
  * hits.
  */
object CodeSearch {

  val K = 10
  val MaxQueries = 600

  /** One query of the stream; `family` names its shape. */
  sealed trait Query { def family: String; def key: String }
  final case class Bm25(terms: Seq[String]) extends Query {
    def family = "bm25"
    def key = s"bm25:${terms.mkString(" ")}"
  }
  final case class Cover(e: Expr) extends Query {
    def family = "cover"
    def key = s"cover:${e.render}"
  }
  /** Boolean, phrase or prefix match count, checked by brute force. */
  final case class Count(family: String, e: Expr) extends Query {
    def key = s"count:${e.render}"
  }

  /** An endless seeded stream of distinct queries cycling through the five
    * families. Terms are drawn by document-frequency rank.
    */
  def stream(docs: Seq[DocTerms], texts: Seq[String], seed: Long): Iterator[Query] = {
    val vocab = new Vocab(docs)
    val rng = new SplittableRandom(seed)
    def term() = vocab.draw(rng)
    def distinct(n: Int): Seq[String] = Iterator.continually(term()).distinct.take(n).toSeq
    def adjacent(): (String, String) = {
      val toks = graft.tokenize.Tokenizer.codeTokens(texts(rng.nextInt(texts.length)))
      val i = rng.nextInt(toks.length - 1)
      (toks(i), toks(i + 1))
    }
    import Expr._
    val seen = scala.collection.mutable.HashSet.empty[String]
    Iterator.from(0).map { i =>
      i % 5 match {
        case 0 => Bm25(distinct(2 + rng.nextInt(3)))
        case 1 =>
          val Seq(a, b, c) = distinct(3)
          Count("count", rng.nextInt(4) match {
            case 0 => And(Lex(a), Lex(b))
            case 1 => Or(Or(Lex(a), Lex(b)), Lex(c))
            case 2 => And(Lex(a), Not(b))
            case _ => And(Or(Lex(a), Lex(b)), Lex(c))
          })
        case 2 =>
          val Seq(a, b, c) = distinct(3)
          Cover(if (rng.nextBoolean()) And(Lex(a), Lex(b)) else And(Lex(a), Or(Lex(b), Lex(c))))
        case 3 =>
          val (a, b) = adjacent()
          Count("phrase", Phrase(a, b))
        case _ =>
          val p = Iterator.continually(term()).find(_.length >= 3).get.take(2)
          Count("prefix", And(Prefix(p), Lex(term())))
      }
    }.filter(q => seen.add(q.key))
  }

  val Families: Seq[String] = Seq("bm25", "count", "cover", "phrase", "prefix")

  private def topK(rows: Array[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Runs one query solo; the answer is a count or a ranked (docId, score) list. */
  def solo(ctx: Ctx, s: Searcher, q: Query): Either[Long, Seq[(Long, Double)]] = q match {
    case Bm25(ts) => Right(topK(Report.query(ctx, s, q.family, None)(s.topKBm25(ts, K))))
    case Cover(e) => Right(topK(Report.query(ctx, s, q.family, Some(e.render))(
      s.topKCover(e.render, K))))
    case Count(f, e) => Left(Report.query(ctx, s, f, Some(e.render))(
      s.matchingDocs(e.render).agg(count(lit(1)))).head.getLong(0))
  }

  def spec(q: Query): MsearchSpec = q match {
    case Bm25(ts) => MsearchSpec.Bm25(ts, K)
    case Cover(e) => MsearchSpec.Cover(e.render, K)
    case Count(_, e) => MsearchSpec.Count(e.render)
  }

  /** Runs one fused batch, planned afresh like the solo stream
    * (`msearchPlan` is `msearch` without its plan cache); answers are keyed
    * by position in `qs`.
    */
  def batch(ctx: Ctx, s: Searcher, qs: Seq[Query]): Map[Int, Either[Long, Seq[(Long, Double)]]] = {
    val t = ctx.tracer
    val rows = t.span("msearch") {
      val df = t.span("msearch.plan") {
        val d = s.msearchPlan(qs.map(spec)); d.queryExecution.executedPlan; d
      }
      t.span("msearch.exec")(df.collect())
    }
    val byQi = rows.groupBy(_.getInt(0))
    qs.indices.map { i =>
      val rs = byQi.getOrElse(i, Array.empty[Row])
      i -> (qs(i) match {
        case _: Count => Left(rs.head.getLong(1))
        case _: Bm25 => Right(rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq
          .sortBy { case (d, sc) => (-sc, d) })
        case _: Cover => Right(rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq
          .sortBy { case (d, sc) => (sc, d) })
      })
    }.toMap
  }

  /** What the search phase measured. `latencies` are the measured solo
    * queries' samples; `batchQps` is over the clean timed batches (the
    * least disturbed one if none is clean); `results` counts the rows every solo
    * query returned (1 per count query); `queries` counts the solo queries
    * run, warm-up included.
    */
  final case class Searches(latencies: Seq[Sample], batchQps: Double, results: Long,
                            queries: Int)

  /** Opens a searcher on `indexDir` and runs `warmup` untimed queries, then
    * measured queries until `window` seconds have passed and `minQueries`
    * of them are clean. Then it replays the same queries as fused batches
    * of `batchSize`, untimed, and the first `minQueries` measured queries
    * once more, timed, so every run times the same number of batches on a
    * warm batch path. Counts are checked by brute force, batch answers
    * against the solo ones.
    */
  def searches(ctx: Ctx, indexDir: String, docsAndTexts: Seq[(DocTerms, String)], warmup: Int,
               minQueries: Int, batchSize: Int, window: Double): Searches = {
    import ctx._
    val docs = docsAndTexts.map(_._1)
    val searcher = tracer.span("open")(new Searcher(spark, indexDir))
    val queries = stream(docs, docsAndTexts.map(_._2), seed)
    val answers = ArrayBuffer.empty[(Long, Query, Either[Long, Seq[(Long, Double)]])]
    def runOne(phase: String, q: Query): Option[Sample] = {
      val (id, res) = op(q.key)(sample(phase)(solo(ctx, searcher, q)))
      res.map { case (a, smp) =>
        answers += ((id, q, a))
        log(f"query ${q.family}: ${smp.seconds}%.3f s${if (smp.clean) "" else " (disturbed)"}")
        smp
      }
    }
    // warm-up: JIT and lazy reads settle before timing; answers still checked
    val warm = Seq.fill(warmup)(queries.next())
    warm.foreach(runOne("warmup_query", _))

    val measured = ArrayBuffer.empty[Query]
    val lat = Stats.repeat(minQueries, window, MaxQueries, retryUntil) {
      val q = queries.next()
      measured += q
      runOne("query", q)
    }

    // brute-force counts from the bench's own tokenization
    answers.foreach {
      case (id, Count(_, e), Left(n)) =>
        val want = docs.count(e.eval).toLong
        check(id, n == want, s"${e.render}: count $n, brute force $want")
      case _ =>
    }
    // the same queries as fused batches; every answer must equal the solo one
    val solos = answers.map { case (_, q, a) => q.key -> a }.toMap
    val timedBatches = ArrayBuffer.empty[Sample]
    val ms = measured.toSeq
    val batches = (warm ++ ms).grouped(batchSize).map(_ -> false) ++
      ms.take(minQueries / batchSize * batchSize).grouped(batchSize).map(_ -> true)
    batches.foreach { case (qs, timed) =>
      val (id, res) = op("msearch")(sample(if (timed) "batch" else "untimed_batch")(
        batch(ctx, searcher, qs)))
      res.foreach { case (got, smp) =>
        if (timed) timedBatches += smp
        log(f"msearch of ${qs.length}: ${smp.seconds}%.3f s${if (smp.clean) "" else " (disturbed)"}")
        got.foreach { case (i, a) =>
          solos.get(qs(i).key).foreach { want =>
            check(id, a == want, s"msearch ${qs(i).key}: $a, solo $want")
          }
        }
      }
    }
    require(lat.nonEmpty && timedBatches.nonEmpty, "no measured query or timed batch succeeded")
    val batchTimes = Stats.clean(timedBatches.toSeq, 1)
    val results = answers.map {
      case (_, _, Left(_)) => 1L
      case (_, _, Right(rows)) => rows.length.toLong
    }.sum
    Searches(lat, batchSize * batchTimes.length / batchTimes.sum, results,
      warm.length + measured.length)
  }
}
