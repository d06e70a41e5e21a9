package perfbench

import org.apache.spark.sql.SparkSession

import graft.build.{IndexBuilder, PostingRow, SegmentCatalog}
import graft.core.{PositionCodec, PostingCursor, PostingListBuilder}
import graft.tokenize.Tokenizer

/** Per-layer measurements of the `tokenize` and `core` modules, timed on
  * the benchmark thread over the workload's own documents (traced runs
  * only).
  */
object Layers {

  private val Passes = 3
  /** Docs packed by the `core` measurement: enough for a steady rate. */
  private val PackSample = 2000

  /** Median of `Passes` timed passes: (seconds, bytes allocated). */
  private def passes(body: => Unit): (Double, Long) = {
    val runs = (1 to Passes).map { _ =>
      val a0 = Util.allocated()
      val (_, s) = Main.timed(body)
      (s, Util.allocated() - a0)
    }.sortBy(_._1)
    runs(Passes / 2)
  }

  def tokenize(texts: Seq[String], tok: String => Array[Tokenizer.TermOccs]): Seq[Metric] = {
    var tokens = 0L
    val (s, alloc) = passes {
      tokens = 0L
      texts.foreach(t => tok(t).foreach(o => tokens += o.tf))
    }
    Seq(
      Metric("tokenize.tokens_per_s", tokens / s, "1/s"),
      Metric("tokenize.docs_per_s", texts.length / s, "1/s"),
      Metric("tokenize.alloc_bytes_per_token", alloc.toDouble / tokens, "B"),
      Metric("tokenize.tokens", tokens.toDouble, "count"))
  }

  /** One posting as the build's pack stage sees it. */
  private final case class Post(docId: Long, tf: Int, len: Int, pos: Array[Int], w: Array[Byte])

  /** Packs the first docs' postings term by term in docId order with
    * PostingListBuilder and PositionCodec, and decodes the index's
    * postings read back through IndexBuilder.readDataset with
    * PostingCursor.
    */
  def core(spark: SparkSession, docs: Seq[(Long, Array[Tokenizer.TermOccs])],
           indexDir: String): Seq[Metric] = {
    val byTerm = docs.take(PackSample).sortBy(_._1).flatMap { case (id, occs) =>
      val len = occs.map(_.tf).sum
      occs.map(o => o.term -> Post(id, o.tf, len, o.positions, o.wclasses))
    }.groupBy(_._1).values.map(_.map(_._2)).toArray
    val postings = byTerm.map(_.length.toLong).sum
    var bytes = 0L
    val (packS, packAlloc) = passes {
      bytes = 0L
      byTerm.foreach { ps =>
        val b = new PostingListBuilder()
        ps.foreach { p =>
          val (cp, cw) = PositionCodec.cap(p.pos, p.w)
          b.add(p.docId, p.tf, p.len, PositionCodec.encode(cp, cw))
        }
        b.result().foreach { k =>
          bytes += 24 + k.docs.length + k.tfs.length + k.lens.length + k.addons.length + k.poss.length
        }
      }
    }

    import spark.implicits._
    val meta = SegmentCatalog.load(indexDir).get
    val rows = IndexBuilder.readDataset(spark, indexDir, meta, "postings").as[PostingRow].collect()
    var decoded = 0L
    val (decodeS, _) = passes {
      decoded = 0L
      rows.foreach { r =>
        val c = new PostingCursor(Iterator(r.blocks))
        while (!c.done) {
          c.positions
          decoded += 1
          c.next()
        }
      }
    }
    Seq(
      Metric("core.pack_postings_per_s", postings / packS, "1/s"),
      Metric("core.decode_postings_per_s", decoded / decodeS, "1/s"),
      Metric("core.bytes_per_posting", bytes.toDouble / postings, "B"),
      Metric("core.alloc_bytes_per_posting", packAlloc.toDouble / postings, "B"))
  }
}
