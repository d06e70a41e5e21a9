package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.build.{IndexBuilder, IndexMeta}
import graft.tokenize.Tokenizer

/** The build phase of the code workloads: bulk builds of the synthetic code
  * corpus with the `code` tokenizer and the primary layout. Tokenize,
  * stage-A pack, shuffle, stage-B merge and the parquet write do nearly all
  * the work; the Zipf head terms exercise skew.
  */
object CodeIngest {

  /** Set-ups per run of `prose_append`, whose set-up is an index build. */
  val SetupReps = 3
  /** Clean corpus generations per run of the code workloads; setup_s is
    * their median.
    */
  val CorpusReps = 3
  val MaxBuilds = 40

  /** Generates the corpus once to warm the JVM up (its first Spark job),
    * then until `CorpusReps` generations are clean, each with a fresh
    * cache. Returns the last copy with the median generation time (see
    * [[Stats.clean]]).
    */
  def corpus(ctx: Ctx, files: Int): (DataFrame, Double) = {
    var df: DataFrame = null
    def generate(): Unit = {
      if (df != null) df.unpersist(blocking = true)
      df = Inputs.codeCorpus(ctx.spark, ctx.seed, files, ctx.slots).persist()
      df.count()
    }
    generate()
    val reps = Stats.repeat(CorpusReps, 0, 2 * CorpusReps, ctx.retryUntil)(Some(ctx.sample("setup")(generate())._2))
    (df, Stats.median(Stats.clean(reps, CorpusReps)))
  }

  /** The bench's own view of the corpus: per-doc terms from Tokenizer.code. */
  def docTerms(df: DataFrame): Seq[(DocTerms, String)] =
    df.select("doc_id", "content").collect().toSeq
      .map(r => (new DocTerms(r.getLong(0), Tokenizer.code(r.getString(1))), r.getString(1)))

  /** Fails build `id` unless its manifest counts the bench's own docs and tokens. */
  def checkManifest(ctx: Ctx, id: Long, meta: IndexMeta, docs: Seq[DocTerms]): Unit = {
    val n = docs.map(_.docId).distinct.length.toLong
    val tokens = docs.map(_.tokens).sum
    ctx.check(id, meta.numDocs == n && meta.totalTokens == tokens,
      s"manifest numDocs/totalTokens ${meta.numDocs}/${meta.totalTokens}, expected $n/$tokens")
  }

  /** Runs IndexBuilder.validate on `dir` as one checked operation. */
  def validate(ctx: Ctx, dir: String): Unit = {
    val (id, issues) = ctx.op("validate")(ctx.tracer.span("validate")(
      IndexBuilder.validate(ctx.spark, dir)))
    issues.foreach(is => ctx.check(id, is.isEmpty, s"validate: ${is.take(3).mkString("; ")}"))
  }

  /** What the build phase measured: the cold build, the warm builds, and
    * the (bytes, files) of every successful build's index, in build order.
    * `dir` is the last build's index, which is kept.
    */
  final case class Builds(cold: Sample, warm: Seq[Sample], outputs: Seq[(Long, Int)], dir: String)

  /** One build in a fresh JVM, then warm builds until `window` seconds have
    * passed and `minWarm` of them are clean. Each build writes a new index;
    * the one before it is deleted.
    */
  def builds(ctx: Ctx, df: DataFrame, docs: Seq[DocTerms], minWarm: Int, window: Double): Builds = {
    import ctx._
    val params = IndexBuilder.Params(tokenizer = "code")
    val outputs = ArrayBuffer.empty[(Long, Int)]
    var last: String = null
    var n = 0
    def one(): Option[Sample] = {
      val dir = ctx.dir(s"ingest-$n")
      val (id, res) = op("build")(sample(if (n == 0) "cold_build" else "build")(
        tracer.span("build")(IndexBuilder.build(spark, df, "doc_id", "content", dir, params))))
      val s = res.map { case (meta, smp) =>
        log(f"build $n: ${smp.seconds}%.3f s${if (smp.clean) "" else " (disturbed)"}")
        checkManifest(ctx, id, meta, docs)
        outputs += Util.diskUsage(dir)
        smp
      }
      if (last != null) Util.deleteTree(last)
      last = dir
      n += 1
      s
    }
    val cold = one()
    val warm = Stats.repeat(minWarm, window, MaxBuilds, retryUntil)(one())
    require(cold.nonEmpty && warm.nonEmpty, "no cold or no warm build succeeded")
    validate(ctx, last)
    Builds(cold.get, warm, outputs.toSeq, last)
  }
}
