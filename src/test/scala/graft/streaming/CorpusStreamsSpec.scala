package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** A `MemoryStream` document row. Top-level, so the generated encoder
  * code can construct it (a case class nested in the spec cannot be
  * built without its outer instance, and codegen falls back to the
  * interpreter with a compile error in the log).
  */
case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Streaming corpus intake: cross-batch exact dedup + token gating agree
  * with the batch admission semantics over the same data.
  */
class CorpusStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def doc(id: Long, text: String) = Doc(id, text, "en", "src0", text.length.toLong)
  // the same rows as a batch DataFrame, for the batch admission APIs
  private def docsDf(ds: (Long, String)*) =
    ds.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("intake admits each distinct text once across micro-batches, gates short docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = CorpusStreams.intake(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("intake").start()
    try {
      val textA = "alpha beta gamma delta epsilon zeta"
      val textB = "one two three four five six seven"
      // batch 1: textA twice (same-batch dup) + a gated 1-token doc
      mem.addData(doc(0, textA), doc(1, textA), doc(2, "tiny"))
      q.processAllAvailable()
      val after1 = spark.table("intake").collect()
      assert(after1.length == 1, "one admission for two copies, short doc gated")
      assert(after1.head.getAs[Long]("n_tokens") == 6L)
      // batch 2: textA again (cross-batch dup), a case/whitespace variant
      // of it (q30 normalization must catch it), and a genuinely new text
      mem.addData(doc(3, textA), doc(4, "Alpha  BETA gamma delta epsilon zeta"),
        doc(5, textB))
      q.processAllAvailable()
      val after2 = spark.table("intake").collect()
      assert(after2.length == 2, "cross-batch and normalized duplicates must not re-admit")
      assert(after2.map(_.getAs[String]("fp")).distinct.length == 2)
    } finally q.stop()
  }

  test("near-dup intake: evolving-corpus admission across file micro-batches") {
    val base = java.nio.file.Files.createTempDirectory("graft_nd_intake")
    val src = base.resolve("src").toString
    val corpus = base.resolve("corpus").toString
    val ckpt = base.resolve("ckpt").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val t1 = toks("a", 40)
    val tB = toks("b", 40)
    // one-token edit: 38 of 40 distinct union bigrams shared -> J = 0.95
    val t1Near = toks("a", 39) + " zz"
    val tC = toks("c", 40)
    val tCNear = toks("c", 39) + " qq"
    docsDf(1L -> t1, 2L -> tB).coalesce(1).write.parquet(src)
    val q = CorpusStreams.nearDupIntake(spark, src, corpus, ckpt, glob = "*.parquet")
    try {
      q.processAllAvailable()
      val after1 = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after1 == Set(1L, 2L))
      // batch 2: exact dup (normalized), near-dup of corpus, fresh doc,
      // token-gated doc, and an IN-batch near-dup of the fresh doc
      docsDf(11L -> t1.toUpperCase, 12L -> t1Near, 13L -> tC,
        14L -> "x y z", 15L -> tCNear)
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
      val after2 = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 11 exact-dropped, 12 near-dup-dropped, 14 gated; 13 admitted and
      // 15 admitted WITH it (in-batch near-dup pairs are q51's job)
      assert(after2 == Set(1L, 2L, 13L, 15L))
    } finally q.stop()
  }

  test("near-dup admission is replay-idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft_nd_replay")
    val corpus = base.resolve("corpus").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b = docsDf(1L -> toks("a", 40), 2L -> toks("b", 40))
    CorpusStreams.admitNearDupBatch(b, corpus)
    val once = spark.read.parquet(corpus).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(once.sameElements(Array(1L, 2L)))
    // a re-delivered batch appends nothing: its docs are exact dups now
    CorpusStreams.admitNearDupBatch(b, corpus)
    val twice = spark.read.parquet(corpus).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(twice.sameElements(once))
  }

  test("near-dup admission survives an existing-but-empty corpus directory") {
    // crash-between-mkdir-and-first-append scenario: the dir exists with
    // no parquet files; the declared store schema must make the read an
    // empty corpus, not a schema-inference error
    val base = java.nio.file.Files.createTempDirectory("graft_nd_empty")
    val corpus = base.resolve("corpus")
    java.nio.file.Files.createDirectories(corpus)
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b = docsDf(1L -> toks("a", 40), 2L -> toks("b", 40))
    CorpusStreams.admitNearDupBatch(b, corpus.toString)
    val got = spark.read.parquet(corpus.toString).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(got.sameElements(Array(1L, 2L)))
  }

  // ---- indexed near-dup intake (NearDupIndex) ----

  /** 120 docs in 6 waves of 20: every (id % 10 == 1) doc is a one-token
    * edit of doc id-1 (a planted cross/in-wave near-dup), every third doc
    * opens with a shared 8-token boilerplate header, and ids ≡ 5 mod 40
    * re-issue the 40-token body of doc id-40 under their own header (a
    * later-wave high-Jaccard dup).
    */
  private def waveDocs(wave: Int): org.apache.spark.sql.DataFrame = {
    def toks(seed: Long, n: Int) =
      (1 to n).map(i => s"w${(seed * 31 + i * 7) % 997}").mkString(" ")
    val rows = (wave * 20 until (wave + 1) * 20).map { id =>
      val src = if (id % 10 == 1) id - 1 else id
      val boiler = if (src % 3 == 0) "skip to main content about press subscribe " else ""
      val body =
        if (id % 40 == 5 && id >= 40) boiler + toks(id - 40L, 40)
        else boiler + toks(src.toLong, 40)
      val text = if (id % 10 == 1) body.dropRight(4) + " zzz9" else body
      (id.toLong, text)
    }
    docsDf(rows: _*)
  }

  test("indexed admission decisions equal the naive path wave by wave") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_equiv")
    val naiveCorpus = base.resolve("naive").toString
    val idxCorpus = base.resolve("indexed").toString
    val indexDir = base.resolve("index").toString
    (0 until 6).foreach { w =>
      val batch = waveDocs(w)
      CorpusStreams.admitNearDupBatch(batch, naiveCorpus)
      NearDupIndex.admitBatch(batch, idxCorpus, indexDir)
      val a = spark.read.parquet(naiveCorpus).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val b = spark.read.parquet(idxCorpus).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(a == b, s"wave $w: naive admitted ${a.diff(b)} extra, indexed ${b.diff(a)} extra")
    }
    // the run crossed several doubling rebuilds (20 -> ~120 docs), so
    // frozen-order refreshes happened and decisions still agreed; the
    // planted near-dups were actually rejected (not a trivial pass)
    val admitted = spark.read.parquet(idxCorpus).count()
    assert(admitted < 120, "some planted dups must have been rejected")
  }

  test("NearDupIndex per-call job budget: an incremental admitBatch stays within its Spark job count") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_jobs")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    NearDupIndex.admitBatch(waveDocs(0).union(waveDocs(1)).union(waveDocs(2)),
      corpus, indexDir)
    // 20 docs onto ~60: below the doubling trigger
    val batch = waveDocs(3).localCheckpoint()
    def docsFiles: Set[String] =
      new java.io.File(s"$indexDir/docs").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val before = docsFiles
    val jobs = jobsOf(NearDupIndex.admitBatch(batch, corpus, indexDir))
    assert(before.subsetOf(docsFiles),
      "the measured batch must be incremental (no rebuild)")
    info(s"NearDupIndex jobs: admit $jobs")
    // an upper bound at this fixture's count: a per-call action added
    // back fails here
    assert(jobs <= 34, s"incremental admitBatch ran $jobs jobs")
  }

  test("multi-writer batch appends: >1 file per store, admission equivalence intact") {
    // The store append must parallelize with batch size (the old
    // coalesce(1) serialized every batch's index write through one
    // task). Force multi-writer at fixture scale via the rows-per-file
    // conf, drive the SAME wave protocol as the equivalence test, and
    // assert (a) a batch append actually produced multiple store files —
    // i.e. >1 writer task ran — and (b) decisions still equal the naive
    // path across doubling rebuilds.
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_multiw")
    val naiveCorpus = base.resolve("naive").toString
    val idxCorpus = base.resolve("indexed").toString
    val indexDir = base.resolve("index").toString
    def parquetFiles(dir: String): Set[String] = {
      val d = new java.io.File(dir)
      if (!d.exists) Set.empty
      else d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSet
    }
    spark.conf.set("spark.graft.index.rowsPerAppendFile", "5")
    try {
      var sawMultiWriterAppend = false
      (0 until 6).foreach { w =>
        val batch = waveDocs(w)
        val before = (parquetFiles(s"$indexDir/docs"), parquetFiles(s"$indexDir/px"))
        CorpusStreams.admitNearDupBatch(batch, naiveCorpus)
        NearDupIndex.admitBatch(batch, idxCorpus, indexDir)
        // a rebuild rewrites the stores, so only credit appends where the
        // prior files survived (pure-append batch)
        val after = (parquetFiles(s"$indexDir/docs"), parquetFiles(s"$indexDir/px"))
        if (before._1.subsetOf(after._1) && before._2.subsetOf(after._2) &&
            (after._1 -- before._1).size > 1 && (after._2 -- before._2).size > 1)
          sawMultiWriterAppend = true
        val a = spark.read.parquet(naiveCorpus).select("doc_id")
          .collect().map(_.getLong(0)).toSet
        val b = spark.read.parquet(idxCorpus).select("doc_id")
          .collect().map(_.getLong(0)).toSet
        assert(a == b, s"wave $w: naive admitted ${a.diff(b)} extra, indexed ${b.diff(a)} extra")
      }
      assert(sawMultiWriterAppend,
        "no batch append wrote >1 file per store — writes still single-task")
    } finally spark.conf.unset("spark.graft.index.rowsPerAppendFile")
  }

  test("indexed intake streaming query: evolving-corpus admission semantics") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_intake")
    val src = base.resolve("src").toString
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    val ckpt = base.resolve("ckpt").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val t1 = toks("a", 40)
    val tB = toks("b", 40)
    val t1Near = toks("a", 39) + " zz"
    val tC = toks("c", 40)
    val tCNear = toks("c", 39) + " qq"
    docsDf(1L -> t1, 2L -> tB).coalesce(1).write.parquet(src)
    val q = NearDupIndex.nearDupIntakeIndexed(
      spark, src, corpus, indexDir, ckpt, glob = "*.parquet")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // same batch-2 scenario as the naive intake test: exact dup,
      // cross-batch near-dup, fresh, gated, in-batch near-dup of fresh
      docsDf(11L -> t1.toUpperCase, 12L -> t1Near, 13L -> tC,
        14L -> "x y z", 15L -> tCNear)
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 13L, 15L))
    } finally q.stop()
  }

  test("streaming manifest partials merge to the exact batch q192 answer") {
    val base = java.nio.file.Files.createTempDirectory("graft_manifest")
    val src = base.resolve("src").toString
    val store = base.resolve("store").toString
    val ckpt = base.resolve("ckpt").toString
    // the real harness documents table, split into three arrival waves,
    // each delivered in its own micro-batch (write → drain → write)
    val all = graft.sources.Tables.documents(spark, sfDir)
    all.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    val q = CorpusStreams.manifestStream(spark, src, store, ckpt,
      glob = "*.parquet")
    try {
      q.processAllAvailable()
      (1 until 3).foreach { w =>
        all.filter(col("doc_id") % 3 === w).coalesce(1)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = CorpusStreams.readManifest(spark, store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val expected = graft.operators.Corpus.q192ShardManifest(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected,
      "merged streaming partials must equal the batch manifest exactly")
    // genuinely incremental: the store holds MORE rows than the merged
    // manifest (per-batch partials, not a rewritten snapshot)
    val stored = spark.read.parquet(store).count()
    assert(stored > expected.size.toLong,
      s"store has $stored rows for ${expected.size} cells — not partial")
  }

  test("index rebuild from the corpus restores admission behavior") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_rebuild")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    NearDupIndex.admitBatch(
      docsDf(1L -> toks("a", 40), 2L -> toks("b", 40)), corpus, indexDir)
    // index lost (crash / deleted): corpus is the source of truth
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(indexDir))
    // recovery runs through the CLI maintenance surface
    val cfg = graft.Main.parse(Array("--rebuild-index", corpus, indexDir))
    assert(cfg.isMaintenance && cfg.rebuildIndex.contains((corpus, indexDir)))
    graft.Main.runMaintenance(spark, cfg)
    assert(spark.read.parquet(s"$indexDir/docs").count() == 2L)
    // a near-dup of doc 1 is still rejected, a fresh doc admitted
    NearDupIndex.admitBatch(
      docsDf(10L -> (toks("a", 39) + " zz"), 11L -> toks("c", 40)),
      corpus, indexDir)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L))
  }

  test("indexed near-dup: a batch doc with several indexed near-copies is rejected; no id is duplicated") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_multiset")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // 1 and 2 are near-copies of each other, both admitted in-batch
    NearDupIndex.admitBatch(docsDf(1L -> toks("a", 40), 2L -> (toks("a", 39) + " zz"),
      3L -> toks("b", 40)), corpus, indexDir)
    val batch = docsDf(101L -> (toks("a", 39) + " yy"), 102L -> toks("c", 40))
      .localCheckpoint()
    // the rejected relation is a multiset: 101 repeats once per verified
    // indexed partner
    val rejected = NearDupIndex.batchProbePlan(spark, indexDir, batch)
      .as[Long].collect().toSeq
    assert(rejected.count(_ == 101L) >= 2 && !rejected.contains(102L),
      s"101 should reject through several indexed docs: $rejected")
    NearDupIndex.admitBatch(batch, corpus, indexDir)
    val ids = spark.read.parquet(corpus).select($"doc_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, s"duplicated corpus ids: ${ids.diff(ids.distinct)}")
    assert(ids.toSet == Set(1L, 2L, 3L, 102L), s"admitted ${ids.toSet}")
  }

  test("index refuses a probe at a different threshold than it was built for") {
    // prefix lengths derive from the build threshold: probing a t=0.8
    // index at t=0.7 would silently lose recall, so it must fail fast
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_thresh")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    NearDupIndex.admitBatch(
      docsDf(1L -> toks("a", 40)), corpus, indexDir, minJaccard = 0.8)
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.admitBatch(
        docsDf(2L -> toks("b", 40)), corpus, indexDir, minJaccard = 0.7)
    }
    assert(e.getMessage.contains("0.8") && e.getMessage.contains("0.7"))
    // same threshold still admits; rebuild() re-bases to a new one
    NearDupIndex.admitBatch(
      docsDf(2L -> toks("b", 40)), corpus, indexDir, minJaccard = 0.8)
    NearDupIndex.rebuild(spark, corpus, indexDir, minJaccard = 0.7)
    NearDupIndex.admitBatch(
      docsDf(3L -> toks("c", 40)), corpus, indexDir, minJaccard = 0.7)
    assert(spark.read.parquet(corpus).count() == 3L)
  }

  test("indexed near-dup admission is replay-idempotent") {
    // re-delivered micro-batch (sink-commit lost, foreachBatch replays):
    // every doc is now an exact dup, so neither the corpus nor the index
    // stores gain rows
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_replay")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b = docsDf(1L -> toks("a", 40), 2L -> toks("b", 40))
    NearDupIndex.admitBatch(b, corpus, indexDir)
    val once = spark.read.parquet(corpus).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(once.sameElements(Array(1L, 2L)))
    NearDupIndex.admitBatch(b, corpus, indexDir)
    val twice = spark.read.parquet(corpus).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(twice.sameElements(once))
    assert(spark.read.parquet(s"$indexDir/docs").count() == 2L,
      "replay must not duplicate index rows")
  }

  test("a doc_id delivered twice in one batch is admitted once; later batches stay incremental") {
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_dupid")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    val naiveCorpus = base.resolve("naive").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    def storeFiles: Set[String] = Seq("docs", "px").flatMap { d =>
      new java.io.File(s"$indexDir/$d").listFiles().map(f => s"$d/${f.getName}")
        .filter(_.endsWith(".parquet"))
    }.toSet
    def ids(dir: String): Seq[Long] =
      spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    def admit(b: org.apache.spark.sql.DataFrame): Unit = {
      NearDupIndex.admitBatch(b, corpus, indexDir)
      CorpusStreams.admitNearDupBatch(b, naiveCorpus)
    }
    // doc 1 arrives twice with two different texts in the same batch:
    // it keeps one row, the one with the lowest fingerprint
    val first = docsDf(1L -> toks("a", 40), 1L -> toks("b", 40), 2L -> toks("c", 40))
    admit(first)
    val fp1 = first.filter($"doc_id" === 1L)
      .select(md5(lower(trim(regexp_replace($"text", "\\s+", " "))))).as[String]
      .collect().min
    assert(ids(corpus) == Seq(1L, 2L), "doc 1 must be admitted once")
    assert(spark.read.parquet(corpus).filter($"doc_id" === 1L).select("fp")
      .as[String].collect().toSeq == Seq(fp1), "doc 1 keeps its lowest fp")
    assert(ids(naiveCorpus) == ids(corpus), "the naive path decides the same")
    // three single-doc batches — new, near-dup, exact-dup — below the
    // doubling trigger: none may pay a heal rebuild
    Seq(3L -> toks("d", 40), 4L -> (toks("d", 39) + " qq"), 5L -> toks("c", 40))
      .foreach { d =>
        val before = storeFiles
        admit(docsDf(d))
        assert(before.subsetOf(storeFiles), s"batch of doc ${d._1} rebuilt the index")
        assert(ids(corpus) == Seq(1L, 2L, 3L))
        assert(ids(s"$indexDir/docs") == ids(corpus), "index and corpus agree")
        assert(ids(naiveCorpus) == ids(corpus), "the naive path decides the same")
      }
  }

  test("corpus/index divergence self-heals on the next batch") {
    // crash between corpus append and index append: the replayed batch
    // is exact-dup-gated out, so without the divergence check those docs
    // would stay invisible to the near-dup probe (a silent recall gap)
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_diverge")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    NearDupIndex.admitBatch(docsDf(1L -> toks("a", 40)), corpus, indexDir)
    // simulate the crash: doc 2 lands in the corpus with NO index rows
    // (same columns admitBatch writes)
    val t2 = toks("b", 40)
    Seq((2L, "src0", "fp-crash", 40L, t2))
      .toDF("doc_id", "source", "fp", "n_tokens", "text")
      .coalesce(1).write.mode("append").parquet(corpus)
    // the STRICT form (the r13 AnnIndex/FingerprintIndex review pin):
    // the orphan's near-dup arrives in the SAME post-crash batch — the
    // pre-probe divergence rebuild must heal the store before this
    // batch's probe, or the duplicate slips in forever
    NearDupIndex.admitBatch(
      docsDf(3L -> toks("c", 40), 9L -> (toks("b", 39) + " qq")),
      corpus, indexDir)
    assert(spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "the healed index must reject the orphan's near-dup in the SAME batch")
    assert(spark.read.parquet(s"$indexDir/docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "index and corpus agree after the heal")
  }

  test("mature-corpus small-files guard: file cap triggers a compacting rebuild") {
    // once doubling stops, append-mode stores would grow one file per
    // batch forever; the cap folds compaction into the rebuild lifecycle
    val base = java.nio.file.Files.createTempDirectory("graft_ndidx_files")
    val corpus = base.resolve("corpus").toString
    val indexDir = base.resolve("index").toString
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    def pxFiles = new java.io.File(s"$indexDir/px").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    spark.conf.set("spark.graft.index.maxStoreFiles", "3")
    try {
      // 20-doc bootstrap: the doubling rebuild compacts px to one file,
      // and 20 -> 2x=40 is far enough that single-doc batches never double
      NearDupIndex.admitBatch(
        docsDf((1L to 20L).map(i => i -> toks(s"p$i", 40)): _*), corpus, indexDir)
      (21L to 28L).foreach { i =>
        NearDupIndex.admitBatch(docsDf(i -> toks(s"p$i", 40)), corpus, indexDir)
        assert(pxFiles <= 4, s"file cap must bound the px store, got $pxFiles")
      }
      // the guard rebuilt at least once past the cap, and admissions
      // still behave: a near-dup of a compacted-in doc is rejected
      NearDupIndex.admitBatch(
        docsDf(99L -> (toks("p21", 39) + " qq")), corpus, indexDir)
      assert(spark.read.parquet(corpus).count() == 28L,
        "near-dup of an indexed doc must be rejected after compaction")
    } finally spark.conf.unset("spark.graft.index.maxStoreFiles")
  }

  test("file-stream intake over harness documents matches batch admission") {
    val q = CorpusStreams.intake(CorpusStreams.fileStream(spark, sfDir))
      .writeStream.outputMode("append").format("memory").queryName("intake_file").start()
    try {
      q.processAllAvailable()
      val admitted = spark.table("intake_file")
        .select("fp").collect().map(_.getString(0))
      assert(admitted.length == admitted.distinct.length, "no fingerprint admitted twice")
      val expected = graft.sources.Tables.documents(spark, sfDir)
        .filter(size(split(trim($"text"), " ")) >= 5)
        .select(md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("fp")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(admitted.toSet == expected, "streaming admission set == batch distinct set")
    } finally q.stop()
  }
}
