package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanWalk, SparkSuite}
import graft.multimodal.Multimodal

/** Fingerprint-at-ingest for media payloads (VERDICT r18 Next #7): the
  * batch near-dup queries decode the whole corpus every run; the store
  * decodes each payload ONCE, persists the perceptual hash banded for
  * pruning, and answers near-dup checks O(batch) — probe-before-append,
  * replay-tolerant and compactable, like the sibling stores. */
class FingerprintStoreSpec extends AnyFunSuite {

  private lazy val s = SparkSuite.spark

  private def mediaDF(rows: (Long, Array[Byte])*) = {
    import s.implicits._
    rows.toSeq.toDF("id", "content")
  }

  test("probe-before-append flags near-dups per kind; never self, never cross-kind") {
    val lake = Files.createTempDirectory("graft-fpstore").toString
    // empty store → empty probe
    assert(FingerprintStore.probeAppend(s, lake,
      mediaDF(1L -> Multimodal.synthPng("srcA", 0L))).isEmpty)
    // seed the store with one payload per modality
    FingerprintStore.probeAppend(s, lake, mediaDF(
      2L -> Multimodal.synthWav("srcA", 0L),
      3L -> Multimodal.synthMjpegAvi("srcA", 0L)))
    // the near batch: a ≤3-px image edit, a ≤3-sample audio edit, a
    // ≤3-px video frame-0 edit — each must flag against ITS stored twin
    // only; the far variants and an undecodable blob must not flag
    val flags = FingerprintStore.probeAppend(s, lake, mediaDF(
      11L -> Multimodal.synthPng("srcA", 2L),
      12L -> Multimodal.synthWav("srcA", 2L),
      13L -> Multimodal.synthMjpegAvi("srcA", 2L),
      14L -> Multimodal.synthPng("srcA", 1L), // far (half repaint)
      15L -> "not media at all".getBytes("UTF-8")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flags === Map(11L -> 1L, 12L -> 2L, 13L -> 3L), s"got $flags")
  }

  test("the probe's store scan is statically pruned to the batch's band buckets") {
    val lake = Files.createTempDirectory("graft-fpstore-prune").toString
    FingerprintStore.probeAppend(s, lake, mediaDF(
      (0L until 40L).map(i => (i, Multimodal.synthPng(s"src${i % 8}", i))): _*))
    val one = FingerprintStore.fingerprintsOf(
      mediaDF(100L -> Multimodal.synthPng("src0", 0L)), s)
    val df = FingerprintStore.probe(s, lake, one)
    df.collect()
    val storeScan = PlanWalk.fileScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("/media_fps")))
      .getOrElse(fail("no store scan in the probe plan"))
    assert(storeScan.partitionFilters.mkString.contains("band_bucket"),
      s"store scan not pruned by band_bucket:\n$storeScan")
  }

  test("keyed probeAppend is replay-stable: same flags, no duplicate rows") {
    val lake = Files.createTempDirectory("graft-fpstore-keyed").toString
    val lin = "streamA"
    // batch 0 seeds the store
    FingerprintStore.probeAppend(s, lake,
      mediaDF(1L -> Multimodal.synthPng("srcK", 0L)),
      batchId = 0L, lineage = lin)
    // batch 1 carries a WITHIN-batch near-dup pair (ids 20/22 are tiny
    // perturbations of the same base raster): on the first run neither
    // flags against the other (probe-before-append sees only batch 0),
    // but an unkeyed replay would see the first attempt's stored copies
    // and flag them — the ADVICE r19 instability the key must prevent
    val batch1 = mediaDF(
      20L -> Multimodal.synthPng("srcK", 2L),
      22L -> Multimodal.synthPng("srcK", 4L))
    def flagsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = flagsOf(FingerprintStore.probeAppend(s, lake, batch1,
      batchId = 1L, lineage = lin))
    val rowsAfterFirst = s.read.parquet(FingerprintStore.fpPath(lake)).count()
    val replay = flagsOf(FingerprintStore.probeAppend(s, lake, batch1,
      batchId = 1L, lineage = lin))
    assert(replay === first, "replayed keyed batch must emit identical flags")
    assert(s.read.parquet(FingerprintStore.fpPath(lake)).count()
      === rowsAfterFirst, "replayed keyed batch must not append rows")
    // and the first run DID flag against batch 0 (sanity: both near the
    // shared base) without flagging the within-batch pair against itself
    assert(first.map(f => (f._1, f._2)) === Set((20L, 1L), (22L, 1L)),
      s"got $first")
    // a LATER batch still sees batch 1's rows (the exclusion is
    // batch-scoped, not a blanket filter)
    val later = flagsOf(FingerprintStore.probeAppend(s, lake,
      mediaDF(30L -> Multimodal.synthPng("srcK", 6L)),
      batchId = 2L, lineage = lin))
    assert(later.map(f => (f._1, f._2)) === Set((30L, 1L)), s"got $later")
  }

  test("scene rows at ingest: first-frame-edited clips flag iff scenes enabled") {
    // the at-ingest twin of q_video_neardup_scenes: the scened synth's
    // frame 0 is doc-unique noise (the edit), docs 0/2 share a perturbed
    // scene on frame 1 — first-frame fingerprints alone are blind
    val near = mediaDF(21L -> Multimodal.synthMjpegAviScened("srcZ", 2L))
    // scenes OFF: no flag (and no scene rows in the store)
    val plain = Files.createTempDirectory("graft-fpstore-noscene").toString
    FingerprintStore.probeAppend(s, plain,
      mediaDF(20L -> Multimodal.synthMjpegAviScened("srcZ", 0L)))
    assert(FingerprintStore.probeAppend(s, plain, near).isEmpty,
      "frame-0 fingerprints must be blind to a first-frame-edited clip")
    assert(s.read.parquet(FingerprintStore.fpPath(plain))
      .filter(col("kind") === "scene").count() === 0L)
    // scenes ON: the shared later scene flags the pair; the base
    // first-frame rows are still present (scene rows are additive)
    val lake = Files.createTempDirectory("graft-fpstore-scene").toString
    FingerprintStore.probeAppend(s, lake,
      mediaDF(20L -> Multimodal.synthMjpegAviScened("srcZ", 0L)),
      scenes = true)
    val store = s.read.parquet(FingerprintStore.fpPath(lake))
    assert(store.filter(col("kind") === "scene").count() > 0L)
    assert(store.filter(col("kind") === "video").count() > 0L)
    val flags = FingerprintStore.probeAppend(s, lake, near, scenes = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flags === Map(21L -> 20L), s"got $flags")
  }

  test("replayed appends are probe-invisible and compaction folds them") {
    val lake = Files.createTempDirectory("graft-fpstore-replay").toString
    val seed = mediaDF(1L -> Multimodal.synthWav("srcB", 0L))
    FingerprintStore.probeAppend(s, lake, seed)
    def probeNear() = FingerprintStore.probe(s, lake,
      FingerprintStore.fingerprintsOf(
        mediaDF(9L -> Multimodal.synthWav("srcB", 2L)), s))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = probeNear()
    assert(want.map(x => (x._1, x._2)) === Seq((9L, 1L)))
    // a crash-window replay duplicates the seed's rows byte-identically:
    // the probe answer must not change (distinct candidates)
    FingerprintStore.append(lake,
      FingerprintStore.fingerprintsOf(seed, s))
    assert(probeNear() === want, "replay rows must fold out of the probe")
    val before = s.read.parquet(FingerprintStore.fpPath(lake)).count()
    val after = FingerprintStore.compact(s, lake)
    assert(after < before, s"compaction must fold duplicates ($before -> $after)")
    assert(probeNear() === want, "compaction must not move the probe answer")
  }
}
