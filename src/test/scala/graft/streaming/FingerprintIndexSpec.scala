package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental perceptual-fingerprint index: per-batch candidates equal
  * the batch-path recompute (payload-pure hashes make append-only
  * maintenance exact), image and audio admission reject indexed
  * perceptual near-dups through the REAL decode branches, replay appends
  * nothing, rebuild is pure compaction, and the per-batch probe never
  * shuffles the store.
  */
class FingerprintIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_fp_idx")
    (base.resolve("corpus").toString, base.resolve("index").toString)
  }

  private def gradientPng(patch: Boolean, invert: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach { y =>
      (0 until 64).foreach { x =>
        val v = if (invert) 255 - (x * 4 min 255) else x * 4 min 255
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    if (patch) img.setRGB(0, 0, 0xFF0000) // one retouched corner pixel
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def rampWav(descending: Boolean = false, scale: Double = 1.0): Array[Byte] = {
    val nFrames = 6400
    val pcm = new Array[Byte](nFrames * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until nFrames).foreach { i =>
      val pos = if (descending) nFrames - 1 - i else i
      val amp = 12000.0 * pos / nFrames * scale
      bb.putShort(i * 2, (amp * math.sin(2 * math.Pi * 440.0 * i / 8000.0)).toShort)
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("incremental candidates == batch-path recompute over the fixture corpus") {
    val (corpus, index) = freshDirs()
    val blobs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary").as("blob"))
    val batch1 = blobs.filter($"doc_id" % 2 === 0)
    val batch2 = blobs.filter($"doc_id" % 2 === 1)
    // high threshold so admission keeps everything: the store must hold
    // batch1 in full for the candidate comparison
    FingerprintIndex.admitBatch(batch1, corpus, index,
      FingerprintIndex.imageHasher, maxHam = -1L)
    val fp2 = FingerprintIndex.imageHasher.hash(batch2)
    val incr = FingerprintIndex.candidatePairs(spark, index, fp2)
      .select($"a_id", $"b_id", $"ham")
      .as[(Long, Long, Long)].collect().toSet
    // batch path: hash both sides fresh, band-join, same Hamming
    val fp1 = FingerprintIndex.imageHasher.hash(batch1)
    val x = fp1.select($"doc_id".as("a_id"), $"bands".as("ba"),
      posexplode($"bands").as(Seq("band_id", "bkey")))
    val y = fp2.select($"doc_id".as("b_id"), $"bands".as("bb"),
      posexplode($"bands").as(Seq("band_id", "bkey")))
    val batchPath = x.join(y, Seq("band_id", "bkey"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("ham", expr(
        "CAST(aggregate(zip_with(ba, bb, (a, b) -> bit_count(a ^ b)), 0, (acc, v) -> acc + v) AS BIGINT)"))
      .select($"a_id", $"b_id", $"ham").distinct()
      .as[(Long, Long, Long)].collect().toSet
    assert(incr.nonEmpty, "fixture split should co-band at least one pair")
    assert(incr == batchPath,
      s"incremental probe diverged: only-incr=${(incr -- batchPath).take(5)}, " +
        s"only-batch=${(batchPath -- incr).take(5)}")
  }

  test("image admission rejects an indexed retouched copy (REAL decode); replay appends nothing") {
    val (corpus, index) = freshDirs()
    val batch1 = Seq((1L, gradientPng(patch = false)),
      (2L, gradientPng(patch = false, invert = true))).toDF("doc_id", "blob")
    FingerprintIndex.admitBatch(batch1, corpus, index, FingerprintIndex.imageHasher)
    // 101 is the retouched copy of image 1 (Hamming <= 7); 3 is text
    val batch2 = Seq((101L, gradientPng(patch = true)),
      (3L, "just some text payload".getBytes("UTF-8"))).toDF("doc_id", "blob")
    FingerprintIndex.admitBatch(batch2, corpus, index, FingerprintIndex.imageHasher)
    val admitted = spark.read.schema(FingerprintIndex.blobSchema).parquet(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L),
      s"retouched copy must be rejected, others admitted: $admitted")
    FingerprintIndex.admitBatch(batch2, corpus, index, FingerprintIndex.imageHasher)
    assert(spark.read.schema(FingerprintIndex.blobSchema).parquet(corpus).count() == 3L,
      "replay must append nothing")
    assert(spark.read.schema(FingerprintIndex.fpSchema).parquet(s"$index/fp").count() == 3L,
      "store and corpus agree after replay")
  }

  test("audio admission rejects an indexed re-mastered copy (REAL PCM16 decode)") {
    val (corpus, index) = freshDirs()
    val batch1 = Seq((1L, rampWav())).toDF("doc_id", "blob")
    FingerprintIndex.admitBatch(batch1, corpus, index, FingerprintIndex.audioHasher)
    // 101 = volume-scaled copy (identical delta-sign fingerprint);
    // 2 = reversed envelope (far)
    val batch2 = Seq((101L, rampWav(scale = 1.25)),
      (2L, rampWav(descending = true))).toDF("doc_id", "blob")
    FingerprintIndex.admitBatch(batch2, corpus, index, FingerprintIndex.audioHasher)
    val admitted = spark.read.schema(FingerprintIndex.blobSchema).parquet(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L),
      s"re-mastered copy must be rejected, reversed admitted: $admitted")
  }

  test("a batch payload with several indexed near-copies is rejected; no id is duplicated") {
    val (corpus, index) = freshDirs()
    // 1 and 2 are near-copies of each other (the retouch is Hamming <= 7),
    // both admitted in-batch
    FingerprintIndex.admitBatch(Seq((1L, gradientPng(patch = false)),
        (2L, gradientPng(patch = true)),
        (3L, gradientPng(patch = false, invert = true))).toDF("doc_id", "blob"),
      corpus, index, FingerprintIndex.imageHasher)
    val batch = Seq((101L, gradientPng(patch = false)),
      (102L, "just some text payload".getBytes("UTF-8"))).toDF("doc_id", "blob")
      .localCheckpoint()
    // the rejected relation is a multiset: 101 repeats once per
    // rejecting indexed signature
    val rejected = FingerprintIndex.batchProbePlan(spark, index, batch,
        FingerprintIndex.imageHasher, maxHam = 7L)
      .as[Long].collect().toSeq
    assert(rejected.count(_ == 101L) >= 2 && !rejected.contains(102L),
      s"101 should reject through several indexed signatures: $rejected")
    FingerprintIndex.admitBatch(batch, corpus, index, FingerprintIndex.imageHasher)
    val ids = spark.read.schema(FingerprintIndex.blobSchema).parquet(corpus)
      .select($"doc_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, s"duplicated corpus ids: ${ids.diff(ids.distinct)}")
    assert(ids.toSet == Set(1L, 2L, 3L, 102L), s"admitted ${ids.toSet}")
    assert(spark.read.schema(FingerprintIndex.fpSchema).parquet(s"$index/fp").count() == 4L,
      "store and corpus agree")
  }

  test("hasher guard: a store built by the image hasher refuses audio probes") {
    val (corpus, index) = freshDirs()
    FingerprintIndex.admitBatch(
      Seq((1L, "x".getBytes("UTF-8"))).toDF("doc_id", "blob"),
      corpus, index, FingerprintIndex.imageHasher)
    val e = intercept[IllegalArgumentException] {
      FingerprintIndex.admitBatch(
        Seq((2L, "y".getBytes("UTF-8"))).toDF("doc_id", "blob"),
        corpus, index, FingerprintIndex.audioHasher)
    }
    assert(e.getMessage.contains("rebuild() required"))
  }

  test("rebuild is pure compaction: candidates before == after") {
    val (corpus, index) = freshDirs()
    val blobs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary").as("blob"))
    FingerprintIndex.admitBatch(blobs.filter($"doc_id" % 2 === 0),
      corpus, index, FingerprintIndex.imageHasher, maxHam = -1L)
    val fp2 = FingerprintIndex.imageHasher.hash(blobs.filter($"doc_id" % 2 === 1))
    val before = FingerprintIndex.candidatePairs(spark, index, fp2)
      .as[(Long, Long, Long)].collect().toSet
    FingerprintIndex.rebuild(spark, corpus, index, FingerprintIndex.imageHasher)
    val after = FingerprintIndex.candidatePairs(spark, index, fp2)
      .as[(Long, Long, Long)].collect().toSet
    assert(before == after, "rebuild must not change candidates (payload-pure hashes)")
  }

  test("divergence self-heal: a corpus row landing without its signature triggers rebuild") {
    val (corpus, index) = freshDirs()
    FingerprintIndex.admitBatch(
      Seq((1L, gradientPng(patch = false))).toDF("doc_id", "blob"),
      corpus, index, FingerprintIndex.imageHasher)
    // simulate a crash between the two appends: a payload reaches the
    // corpus store but its signature never lands in fp/
    Seq((50L, gradientPng(patch = false, invert = true))).toDF("doc_id", "blob")
      .write.mode("append").parquet(corpus)
    assert(spark.read.schema(FingerprintIndex.fpSchema).parquet(s"$index/fp").count() == 1L)
    // the STRICT form: the very next batch carries the orphan's
    // retouched copy — the pre-probe divergence rebuild must heal the
    // store before this batch's probe, or the near-dup slips in forever
    val batch = Seq((51L, gradientPng(patch = true, invert = true)),
      (2L, "unrelated text".getBytes("UTF-8"))).toDF("doc_id", "blob")
    FingerprintIndex.admitBatch(batch, corpus, index, FingerprintIndex.imageHasher)
    val admitted = spark.read.schema(FingerprintIndex.blobSchema).parquet(corpus)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 50L),
      s"the healed index must reject the orphan's near-dup in the SAME batch: $admitted")
    assert(spark.read.schema(FingerprintIndex.fpSchema).parquet(s"$index/fp").count() == 3L,
      "store and corpus agree after the heal + admission")
  }

  test("per-batch probe plan: every join broadcasts — the store is never shuffle-joined") {
    val (corpus, index) = freshDirs()
    val blobs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".cast("binary").as("blob"))
    FingerprintIndex.admitBatch(blobs.filter($"doc_id" % 2 === 0),
      corpus, index, FingerprintIndex.imageHasher, maxHam = -1L)
    val probe = FingerprintIndex.batchProbePlan(spark, index,
      blobs.filter($"doc_id" % 2 === 1), FingerprintIndex.imageHasher, maxHam = 7L)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "store must only be scanned against broadcast batch band rows:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"))
  }
}
