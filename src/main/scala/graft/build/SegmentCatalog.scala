package graft.build

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Per-shard build record — RUM's meta-page stats (reference:
  * src/rum.h:67-102 nEntries/nDataPages/..., updated at
  * src/ruminsert.c:676-677) generalized to lineage + metrics per segment
  * shard, as the scaling/resumability contract requires.
  *
  * `buildMs` is the REAL per-shard pack/merge wall time harvested from the
  * build's stage-B tasks (cumulative across appends; task retries may
  * double-count — it is a diagnostics metric). Shards built before this
  * was measured carry the job wall as a fallback.
  */
final case class ShardMeta(
    shard: Int,
    terms: Long,
    chunkRows: Long,
    postings: Long,
    buildMs: Long,
    committedAtMs: Long)

/** Index-level manifest. `paramsHash` fingerprints everything that affects
  * index content so a resume against different params is refused.
  */
final case class IndexMeta(
    formatVersion: Int,
    numDocs: Long,
    totalTokens: Long,
    avgLen: Double,
    nShards: Int,
    blockSize: Int,
    maxPostingsPerChunk: Int,
    tokenizer: String,
    attachCol: String,
    inputLineage: String,
    paramsHash: String,
    shards: List[ShardMeta],
    /** highest streaming micro-batch id applied (-1 = none) — committed in
      * the same atomic manifest move as the data it covers, so a replayed
      * foreachBatch can skip already-applied batches (exactly-once guard)
      */
    lastBatchId: Long = -1L,
    /** "text" | "hash" — see [[graft.core.HashKeys]] */
    keyKind: String = "text",
    /** (addon, docId)-ordered posting copy present (order_by_attach) */
    altOrder: Boolean = false,
    /** comma-separated field names of a multi-column index ("" = single
      * text column); keys are field-prefixed, see IndexBuilder.fieldKey
      */
    fields: String = "",
    /** micro-segment appends committed since the last full-layout rewrite
      * (build/compact reset to 0) — the size-tier counter driving automatic
      * compaction (the reference's pending-list cleanup analogue,
      * src/rumvacuum.c:751-846)
      */
    appendRuns: Int = 0,
    /** Iceberg-snapshot-style data-file listing per dataset
      * ("postings" | "alt" | "docs" | "stats" → relative parquet paths).
      * Readers scan exactly these files, so data written by a crashed or
      * replayed commit is invisible until the atomic manifest move that
      * covers it — this closes the at-least-once replay window entirely
      * (orphaned part files are garbage, not duplicates). Every writer
      * lists each dataset it writes.
      */
    dataFiles: Map[String, List[String]] = Map.empty) {
  def committedShards: Set[Int] = shards.map(_.shard).toSet
  def isComplete: Boolean = committedShards.size == nShards
}

/** Immutable-segments + atomic-manifest table semantics (the sandbox has no
  * Iceberg jars; this trait mirrors Iceberg's snapshot commit model —
  * parquet data files are immutable, the manifest is replaced atomically
  * via write-tmp + ATOMIC_MOVE — so the storage layer can be swapped for an
  * Iceberg catalog without touching build/query code).
  *
  * Serialization is a deliberately dependency-free line format (k=v) —
  * no JSON library drift across Spark versions.
  */
object SegmentCatalog {
  private def metaPath(indexDir: String): Path = Paths.get(indexDir, "_meta", "manifest.txt")

  def postingsDir(indexDir: String): String = s"$indexDir/postings"
  def altDir(indexDir: String): String = s"$indexDir/postings_alt"
  def docsDir(indexDir: String): String = s"$indexDir/docs"
  def statsDir(indexDir: String): String = s"$indexDir/stats"

  def save(indexDir: String, meta: IndexMeta): Unit = {
    val sb = new StringBuilder
    sb.append(s"formatVersion=${meta.formatVersion}\n")
    sb.append(s"numDocs=${meta.numDocs}\n")
    sb.append(s"totalTokens=${meta.totalTokens}\n")
    sb.append(s"avgLen=${meta.avgLen}\n")
    sb.append(s"nShards=${meta.nShards}\n")
    sb.append(s"blockSize=${meta.blockSize}\n")
    sb.append(s"maxPostingsPerChunk=${meta.maxPostingsPerChunk}\n")
    sb.append(s"tokenizer=${meta.tokenizer}\n")
    sb.append(s"attachCol=${meta.attachCol}\n")
    sb.append(s"inputLineage=${meta.inputLineage.replace("\n", " ")}\n")
    sb.append(s"paramsHash=${meta.paramsHash}\n")
    sb.append(s"lastBatchId=${meta.lastBatchId}\n")
    sb.append(s"keyKind=${meta.keyKind}\n")
    sb.append(s"altOrder=${meta.altOrder}\n")
    sb.append(s"fields=${meta.fields}\n")
    sb.append(s"appendRuns=${meta.appendRuns}\n")
    meta.shards.sortBy(_.shard).foreach { s =>
      sb.append(s"shard=${s.shard},${s.terms},${s.chunkRows},${s.postings},${s.buildMs},${s.committedAtMs}\n")
    }
    // the set of LISTED kinds is persisted explicitly: an empty listing
    // (e.g. buildempty) must round-trip as Some(Nil), not as a missing
    // listing, which readers refuse
    if (meta.dataFiles.nonEmpty)
      sb.append(s"dkinds=${meta.dataFiles.keys.toSeq.sorted.mkString(",")}\n")
    meta.dataFiles.toSeq.sortBy(_._1).foreach { case (kind, files) =>
      files.sorted.foreach(f => sb.append(s"dfile=$kind,$f\n"))
    }
    val p = metaPath(indexDir)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling("manifest.txt.tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def load(indexDir: String): Option[IndexMeta] = {
    val p = metaPath(indexDir)
    if (!Files.exists(p)) return None
    val lines = Files.readAllLines(p)
    val kv = scala.collection.mutable.Map.empty[String, String]
    val shards = scala.collection.mutable.ListBuffer.empty[ShardMeta]
    val dfiles = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ListBuffer[String]]
    lines.forEach { line =>
      val eq = line.indexOf('=')
      if (eq > 0) {
        val (k, v) = (line.substring(0, eq), line.substring(eq + 1))
        if (k == "shard") {
          val f = v.split(",")
          shards += ShardMeta(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong)
        } else if (k == "dkinds") {
          v.split(",").filter(_.nonEmpty).foreach { kind =>
            dfiles.getOrElseUpdate(kind, scala.collection.mutable.ListBuffer.empty)
          }
        } else if (k == "dfile") {
          val c = v.indexOf(',')
          dfiles.getOrElseUpdate(v.substring(0, c), scala.collection.mutable.ListBuffer.empty) +=
            v.substring(c + 1)
        } else kv(k) = v
      }
    }
    Some(IndexMeta(
      formatVersion = kv("formatVersion").toInt,
      numDocs = kv("numDocs").toLong,
      totalTokens = kv("totalTokens").toLong,
      avgLen = kv("avgLen").toDouble,
      nShards = kv("nShards").toInt,
      blockSize = kv("blockSize").toInt,
      maxPostingsPerChunk = kv("maxPostingsPerChunk").toInt,
      tokenizer = kv("tokenizer"),
      attachCol = kv.getOrElse("attachCol", ""),
      inputLineage = kv.getOrElse("inputLineage", ""),
      paramsHash = kv("paramsHash"),
      shards = shards.toList,
      lastBatchId = kv.getOrElse("lastBatchId", "-1").toLong,
      keyKind = kv.getOrElse("keyKind", "text"),
      altOrder = kv.getOrElse("altOrder", "false").toBoolean,
      fields = kv.getOrElse("fields", ""),
      appendRuns = kv.getOrElse("appendRuns", "0").toInt,
      dataFiles = dfiles.map { case (k, v) => k -> v.toList }.toMap))
  }
}
