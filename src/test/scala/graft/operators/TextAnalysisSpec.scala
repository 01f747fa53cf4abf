package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Language-ID semantics on PLANTED real-language sentences: the marker
  * heuristic must genuinely discriminate when the text carries signal
  * (the harness fixture's docs are language-tagged English salad with no
  * signal — see TextAnalysis.langMarkers — so this is where the
  * classifier's correctness is actually proven).
  */
class TextAnalysisSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("langId classifies planted multilingual sentences correctly") {
    val docs = Seq(
      (0L, "the cat and the dog of the house and the tree", "en"),
      (1L, "der hund und die katze und das haus nicht der baum", "de"),
      (2L, "el perro y la casa que para los gatos el sol", "es"),
      (3L, "le chien est pour les maisons des chats le soleil", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("labeled_lang"), r.getAs[String]("predicted_lang"))).toMap
    got.foreach { case (id, (labeled, predicted)) =>
      assert(predicted == labeled, s"doc $id: labeled $labeled, predicted $predicted")
    }
  }

  test("langId tie-break is declaration-order deterministic") {
    // no markers at all -> all scores 0 -> first declared language wins
    val docs = Seq((0L, "xyzzy plugh", "zz")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(docs).collect().head
    assert(got.getAs[String]("predicted_lang") == TextAnalysis.langMarkers.head._1)
  }

  test("q76 unigram NLL: hand-computed micro-nat scores on a planted corpus") {
    val d = Files.createTempDirectory("graft_nll").toString
    // corpus: doc 0 = "a a b", doc 1 = "b c" -> N=5, c_a=2, c_b=2, c_c=1
    // s(a) = s(b) = round(ln(5/2)*1e6) = 916291, s(c) = round(ln(5)*1e6) = 1609438
    Seq((0L, "a a b", "en", "src0", 5L), (1L, "b c", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = TextAnalysis.q76UnigramNll(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_tokens") == 3L)
    assert(r(0L).getAs[Long]("nll_micro") == 3L * 916291)
    assert(math.abs(r(0L).getAs[Double]("avg_nll") - 0.916291) < 1e-12)
    assert(r(1L).getAs[Long]("n_tokens") == 2L)
    assert(r(1L).getAs[Long]("nll_micro") == 916291L + 1609438L)
    assert(math.abs(r(1L).getAs[Double]("avg_nll") - 1.2628645) < 1e-12)
  }

  test("q76 unigram NLL: fixed-point table sits far from rounding boundaries") {
    // The frozen per-type surprisal round(ln(N/c)*1e6) is the only place a
    // cross-engine libm ulp (~1e-9 in micro-nat units) could diverge. Prove
    // it can't for every corpus the driver gates on: each type's value must
    // sit > 1e-3 from the nearest .5 boundary (measured floor ~2e-2).
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val types = graft.sources.Tables.documents(spark, dir)
        .select(explode(split(trim($"text"), " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getAs[Long]("c"))
      val n = types.sum
      types.foreach { c =>
        val x = math.log(n.toDouble / c) * 1e6
        val dist = math.abs(x - math.floor(x) - 0.5)
        assert(dist > 1e-3, s"$sf: type count $c at $dist from a rounding boundary")
      }
    }
  }

  test("q86 doc novelty: planted spans give exactly known shares") {
    val d = Files.createTempDirectory("graft_novelty").toString
    // four distinct 64-token spans built from disjoint vocabularies
    def span(p: String): String = (0 until 64).map(i => s"$p$i").mkString(" ")
    val (a, b, c2, sD, sE) = (span("a"), span("b"), span("c"), span("d"), span("e"))
    val docs = Seq(
      (0L, s"$a $b"),   // spans A,B — A shared with doc 1
      (1L, s"$a $c2"),  // spans A,C
      (2L, sD),         // lone span
      (3L, s"$sE $sE"), // same span twice WITHIN one doc: not shared
      (4L, "short doc under one span")) // no full span: excluded
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextAnalysis.q86DocNovelty(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_span_types"),
          r.getAs[Long]("n_shared_spans"), r.getAs[Double]("shared_share")))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 1L, 0.5)),
      1L -> ((2L, 2L, 1L, 0.5)),
      2L -> ((1L, 1L, 0L, 0.0)),
      3L -> ((2L, 1L, 0L, 0.0))))
  }

  test("q83 span families match brute-force components over shared 64-token spans") {
    // independent reference: tile every doc into aligned 64-token chunks in
    // Scala, link docs sharing a chunk, union-find the families
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byChunk = docs.flatMap { case (id, text) =>
      // full spans only, mirroring the operator's chunk_len = 64 gate
      text.trim.split(" ").grouped(64).filter(_.length == 64)
        .map(c => c.mkString(" ") -> id)
    }.groupBy(_._1).values.map(_.map(_._2).distinct.sorted).filter(_.length >= 2)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    byChunk.foreach { ids =>
      ids.tail.foreach { v =>
        val (ra, rb) = (find(ids.head), find(v))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val members = parent.keys.toSeq.groupBy(find)
    val expected = members.flatMap { case (_, vs) =>
      val rep = vs.min
      vs.map(v => v -> ((rep, vs.size.toLong)))
    }.toMap
    val got = TextAnalysis.q83SpanFamilies(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.nonEmpty, "fixture corpus must contain shared spans")
    assert(got == expected)
  }

  test("training mix: exact 1-in-5 per stratum, stable under repartitioning") {
    val a = TextAnalysis.q53TrainingMix(spark, sfDir).collect()
    // per-source counts are exactly floor(n/5)
    val bySource = a.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rows) =>
      val n = rows.head.getAs[Long]("n_source")
      assert(rows.length == (n / 5).toInt, s"$src: ${rows.length} of $n")
    }
    // determinism: same doc set on a second run
    val b = TextAnalysis.q53TrainingMix(spark, sfDir).collect()
    assert(a.map(_.getLong(0)).toSet == b.map(_.getLong(0)).toSet)
  }

  test("fixture corpus exercises every classifier branch") {
    val preds = TextAnalysis.q28LangId(spark, sfDir)
      .groupBy("predicted_lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preds.keySet == TextAnalysis.langMarkers.map(_._1).toSet,
      s"expected all branches live, got $preds")
  }

  test("q228: per-class stats and kappa replay from a brute confusion recount") {
    val preds = TextAnalysis.q28LangId(spark, sfDir).collect()
      .map(r => (r.getAs[String]("labeled_lang"), r.getAs[String]("predicted_lang")))
    val n = preds.length.toLong
    val rowsOf = preds.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val colsOf = preds.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val diagOf = preds.filter(p => p._1 == p._2)
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val classes = (rowsOf.keySet ++ colsOf.keySet).toSeq.sorted
    val got = TextAnalysis.q228KappaAgreement(spark, sfDir).collect().map { r =>
      r.getAs[String]("clazz") -> ((r.getAs[Long]("n_labeled"),
        r.getAs[Long]("n_predicted"), r.getAs[Long]("n_correct")))
    }.toMap
    assert(got.keySet == classes.toSet + "__all__")
    classes.foreach { c =>
      assert(got(c) == ((rowsOf.getOrElse(c, 0L), colsOf.getOrElse(c, 0L),
        diagOf.getOrElse(c, 0L))), s"class $c")
    }
    val d = diagOf.values.sum
    val s = classes.map(c => rowsOf.getOrElse(c, 0L) * colsOf.getOrElse(c, 0L)).sum
    assert(got("__all__") == ((n, n, d)))
    val kappa = TextAnalysis.q228KappaAgreement(spark, sfDir)
      .filter("clazz = '__all__'").collect()(0).getAs[Double]("kappa")
    // mirror the query's overflow-safe double tree (exact at fixture
    // scale: every term is far below 2^53)
    assert(kappa == (n.toDouble * d.toDouble - s.toDouble) /
      (n.toDouble * n.toDouble - s.toDouble))
    assert(kappa >= -1.0 && kappa <= 1.0)
    // this fixture's lang labels are synthetic and do NOT encode the
    // marker words, so κ honestly reads ~0 (chance agreement) while raw
    // observed agreement is nonzero — exactly the gap the
    // chance-correction exists to expose. Pin that the statistic is
    // doing that job: po > 0 with κ near zero.
    assert(d > 0L, "observed agreement must be nonzero")
    assert(math.abs(kappa) < 0.2,
      s"synthetic labels should sit near chance, got $kappa")
  }

  test("q231: preference pairs replay from a driver-side per-stratum argmax/argmin") {
    val scored = TextAnalysis.q27QualityScore(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("quality")))
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val expected = scored.groupBy(d => (srcOf(d._1), d._2 / 16)).flatMap {
      case ((src, lb), ds) if ds.length >= 2 =>
        val chosen = ds.minBy(d => (-d._3, d._1))
        val rejected = ds.minBy(d => (d._3, d._1))
        val gap = chosen._3 - rejected._3
        if (gap > 0)
          Some((src, lb) -> ((ds.length.toLong, chosen._1, rejected._1, gap)))
        else None
      case _ => None
    }
    val got = TextAnalysis.q231PreferencePairs(spark, sfDir).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("len_bucket")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chosen_id"),
          r.getAs[Long]("rejected_id"), r.getAs[Double]("quality_gap")))
    }.toMap
    assert(got == expected, s"got ${got.size} pairs expected ${expected.size}")
    assert(got.nonEmpty, "fixture must produce preference pairs")
    // a pair never degenerates: chosen and rejected are distinct docs
    got.values.foreach { case (_, c, rj, gap) =>
      assert(c != rj && gap > 0.0)
    }
  }

  test("q232: padding audit replays serially and length bucketing must win") {
    val lens = spark.read.parquet(s"$sfDir/documents.parquet").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").trim.split(" ", -1).length.toLong))
    def audit(batches: Iterable[Seq[Long]]): (Long, Long, Long) = {
      val perBatch = batches.map(ls => (ls.length.toLong, ls.sum, ls.max))
      (perBatch.size.toLong, perBatch.map(_._2).sum,
        perBatch.map(b => b._3 * b._1 - b._2).sum)
    }
    val arrival = audit(lens.groupBy(_._1 / 32).values.map(_.map(_._2).toSeq))
    val bucketed = audit(
      lens.groupBy(_._2 / 8).values.flatMap(
        _.sortBy(_._1).grouped(32).map(_.map(_._2).toSeq)))
    val got = TextAnalysis.q232PaddingAudit(spark, sfDir).collect().map { r =>
      r.getAs[String]("strategy") -> ((r.getAs[Long]("n_batches"),
        r.getAs[Long]("token_sum"), r.getAs[Long]("pad_sum"),
        r.getAs[Long]("waste_bp")))
    }.toMap
    def bp(tok: Long, pad: Long): Long = pad * 10000 / (tok + pad)
    assert(got("arrival") ==
      ((arrival._1, arrival._2, arrival._3, bp(arrival._2, arrival._3))))
    assert(got("length_bucketed") ==
      ((bucketed._1, bucketed._2, bucketed._3, bp(bucketed._2, bucketed._3))))
    // the audit's entire point: bucketing must beat arrival order
    assert(got("length_bucketed")._4 < got("arrival")._4,
      s"length bucketing did not reduce waste: $got")
  }

  test("q234: CMS calibration booleans hold, estimates are seed-deterministic, " +
      "and an absent token stays inside the collision bound") {
    val rows = TextAnalysis.q234CmsCalibration(spark, sfDir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("never_undercounts"),
        s"${r.getAs[String]("tok")}: CMS undercounted")
      assert(r.getAs[Boolean]("within_3eps_n"),
        s"${r.getAs[String]("tok")}: CMS above the 3*eps*N alarm bound")
    }
    // determinism + absent-key bound, straight on the sketch object
    import org.apache.spark.sql.functions._
    val tx = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(trim(col("text")), " ")).as("tok"))
    val a = tx.stat.countMinSketch("tok", 0.01, 0.999, 42)
    val b = tx.stat.countMinSketch("tok", 0.01, 0.999, 42)
    val probes = Seq("the", "value", "zzz_not_a_token_zzz")
    probes.foreach(t =>
      assert(a.estimateCount(t) == b.estimateCount(t), s"nondeterministic: $t"))
    val absent = a.estimateCount("zzz_not_a_token_zzz")
    assert(absent >= 0 && absent <= (0.01 * a.totalCount()).toLong,
      s"absent-token estimate $absent outside the collision bound")
  }

  test("q235: Bloom guarantees hold and the filter is doing real work") {
    val rows = TextAnalysis.q235BloomCalibration(spark, sfDir).collect()
      .map(r => r.getAs[String]("slice") -> ((r.getAs[Long]("n_probes"),
        r.getAs[Boolean]("no_false_negatives"),
        r.getAs[Boolean]("fp_within_3x_fpp")))).toMap
    assert(rows.keySet == Set("train", "eval"))
    rows.values.foreach { case (_, nfn, fpb) => assert(nfn && fpb) }
    // the split must exercise both sides
    assert(rows("train")._1 > 0 && rows("eval")._1 > 0)
  }

  test("sequence packing lays docs contiguously within per-source budgets") {
    val rows = TextAnalysis.q55SequencePacking(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      // replay the layout serially: each doc starts where the previous
      // one in doc_id order ended, sequences are cum/512
      var cum = 0L
      rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("seq_id") == cum / 512, s"$src seq_id")
        assert(r.getAs[Long]("seq_offset") == cum % 512, s"$src seq_offset")
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("repetition metrics: exact values on planted docs") {
    val d = Files.createTempDirectory("graft_rep").toString
    // doc 0: "a a a b" -> top_token 3/4, simpson (3*2)/(4*3)=0.5,
    //   trigrams [a a a, a a b] distinct -> dup frac 0
    // doc 1: "a a a a a" -> trigrams [aaa x3] -> dup frac 2/3, simpson 1
    // doc 2: all distinct -> everything minimal
    val docs = Seq(
      (0L, "a a a b", "en", "s", 7L),
      (1L, "a a a a a", "en", "s", 9L),
      (2L, "u v w x y z", "en", "s", 11L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = TextAnalysis.q58RepetitionMetrics(spark, d)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("top_token_n") == 3L)
    assert(r(0L).getAs[Double]("top_token_frac") == 0.75)
    assert(r(0L).getAs[Double]("simpson_rep") == 0.5)
    assert(r(0L).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(r(1L).getAs[Double]("simpson_rep") == 1.0)
    assert(math.abs(r(1L).getAs[Double]("dup_trigram_frac") - 2.0 / 3) < 1e-15)
    assert(r(2L).getAs[Double]("top_token_frac") == 1.0 / 6)
    assert(r(2L).getAs[Double]("simpson_rep") == 0.0)
  }

  test("quality funnel: stages are cumulative and retention consistent") {
    val r = TextAnalysis.q61QualityFunnel(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val (n, p1, p2, p3) = (x.getAs[Long]("n_docs"), x.getAs[Long]("pass_len"),
        x.getAs[Long]("pass_stopword"), x.getAs[Long]("pass_shorttok"))
      assert(n >= p1 && p1 >= p2 && p2 >= p3 && p3 >= 0)
      assert(x.getAs[Double]("retention") == p3.toDouble / n)
    }
    // the cascade actually filters something at this SF
    assert(r.map(_.getAs[Long]("n_docs")).sum >
      r.map(_.getAs[Long]("pass_shorttok")).sum)
  }

  test("chunking: stride-64 windows of 128 tokens cover each doc exactly") {
    val d = Files.createTempDirectory("graft_chunk").toString
    val t200 = (1 to 200).map(i => s"t$i").mkString(" ")
    val t5 = (1 to 5).map(i => s"s$i").mkString(" ")
    Seq((0L, t200, "en", "s", 0L), (1L, t5, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = TextAnalysis.q62ChunkDocs(spark, d).collect()
    val c0 = r.filter(_.getAs[Long]("doc_id") == 0L)
      .map(x => (x.getAs[Long]("chunk_id"), x.getAs[Long]("start"), x.getAs[Long]("chunk_len")))
    // 200 tokens: starts 0,64,128,192 with lens 128,128,72,8
    assert(c0.toSeq == Seq((0L, 0L, 128L), (1L, 64L, 128L), (2L, 128L, 72L), (3L, 192L, 8L)))
    val c1 = r.filter(_.getAs[Long]("doc_id") == 1L)
      .map(x => (x.getAs[Long]("chunk_id"), x.getAs[Long]("chunk_len")))
    assert(c1.toSeq == Seq((0L, 5L)))
    // every chunk fp is a real md5
    assert(r.forall(_.getAs[String]("chunk_fp").matches("[0-9a-f]{32}")))
  }

  test("repeated chunks: finds the shared span, ignores unique spans") {
    val d = Files.createTempDirectory("graft_q74").toString
    // 200-token docs; docs 0 and 1 share tokens 0..127 exactly — the
    // 64/64 spans at start 0 and start 64 lie inside the shared region
    // (two repeated fingerprints); spans from 128 on diverge; doc 2 is
    // unrelated.
    val shared = (0 until 128).map(i => s"s$i")
    val tail0 = (128 until 200).map(i => s"a$i")
    val tail1 = (128 until 200).map(i => s"b$i")
    val other = (0 until 200).map(i => s"z$i")
    val rows = Seq(
      (0L, (shared ++ tail0).mkString(" "), "en", "s0"),
      (1L, (shared ++ tail1).mkString(" "), "en", "s1"),
      (2L, other.mkString(" "), "en", "s2"))
      .map { case (i, t, l, s) => (i, t, l, s, t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextAnalysis.q74RepeatedChunks(spark, d).collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 2L && r.getAs[Long]("n_occ") == 2L)
      assert(r.getAs[Long]("chunk_len") == 64L && r.getAs[Long]("first_doc") == 0L)
    }
  }

  test("tfidf top terms: exactly 5 per stratum, scores consistent") {
    val rows = TextAnalysis.q56TfidfTopTerms(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.length == 5, s"$src: ${rs.length}")
      // descending score within stratum (output is ordered source, score desc)
      val scores = rs.map(_.getAs[Long]("score")).toSeq
      assert(scores == scores.sorted.reverse, s"$src not rank-ordered")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("score") ==
        r.getAs[Long]("tf") * n * 1000L / r.getAs[Long]("df"))
    }
  }

  test("q131: BM25 scores are rank-ordered, saturation-bounded, and the frozen idf sits off the rounding boundary") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = TextAnalysis.q131Bm25TopK(spark, sf).collect()
      assert(rows.length == 20, s"$sf: expected top-20")
      val scores = rows.map(_.getAs[Long]("score")).toSeq
      assert(scores == scores.sorted.reverse, s"$sf: not rank-ordered")
      assert(rows.forall(r => r.getAs[Long]("n_terms") <= 3 && r.getAs[Long]("score") > 0))
      // recompute the three frozen idfs exactly and pin the rounding
      // distance (the Selection micro-nat guard discipline): a value
      // near x.5 micro-nats would let HALF_UP vs half-away diverge
      import org.apache.spark.sql.functions._
      val tx = graft.sources.Tables.documents(spark, sf)
        .select($"doc_id", explode(split(trim($"text"), " ")).as("tok"))
      val n = tx.select($"doc_id").distinct().count()
      val dfs = tx.groupBy($"tok").agg(countDistinct($"doc_id").as("df"))
        .orderBy($"df".desc, $"tok").limit(3).collect().map(_.getAs[Long]("df"))
      dfs.foreach { df =>
        val v = math.log((2.0 * n + 1) / (2.0 * df + 1)) * 1e6
        assert(v > 0, s"$sf: Lucene idf must be positive (df=$df, N=$n)")
        val frac = math.abs(v - math.floor(v) - 0.5)
        assert(frac > 1e-3, s"$sf: idf $v sits ${frac} from the .5 boundary (df=$df)")
      }
      // saturation: a term score can never exceed idf·(k1+1)/k1 = 2.2·idf
      val maxIdf = dfs.map(df => math.round(math.log((2.0 * n + 1) / (2.0 * df + 1)) * 1e6)).max
      assert(scores.head <= (3 * 2.2 * maxIdf).toLong,
        s"$sf: top score ${scores.head} exceeds the BM25 saturation bound")
    }
  }

  test("q148: positional phrase matches equal a driver-side scan, every hit string-confirmed") {
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ", -1).toSeq).toMap
    val triCounts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    texts.values.foreach { t =>
      val grams: Set[String] =
        t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      grams.foreach(g => triCounts(g) += 1)
    }
    val phrase = triCounts.toSeq.minBy { case (g, df) => (-df, g) }._1
    val expected = texts.flatMap { case (id, t) =>
      val n = t.sliding(3).count(w => w.length == 3 && w.mkString(" ") == phrase)
      if (n > 0) Some(id -> n.toLong) else None
    }
    val rows = TextAnalysis.q148PhraseSearch(spark, sfDir).collect()
    assert(rows.forall(_.getAs[String]("phrase") == phrase),
      "spark must derive the same top-df trigram")
    val got = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_occurrences")).toMap
    assert(got == expected, s"got $got expected $expected")
    assert(rows.forall(_.getAs[Boolean]("contains_str")),
      "every positional hit must re-confirm at the string level")
    assert(got.nonEmpty)
  }

  /** q131 in its relational form: a (doc_id, tok) relation whose df, A,
    * N, len and tf are aggregated and joined back by doc_id — the
    * reference the per-document scoring must equal row for row.
    */
  private def q131Relational(dir: String): org.apache.spark.sql.DataFrame = {
    val tx = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim($"text"), " ")).as("tok"))
    val stats = tx.agg(count(lit(1)).as("A"), countDistinct($"doc_id").as("N"))
    val qterms = tx.groupBy($"tok").agg(countDistinct($"doc_id").as("df"))
      .orderBy($"df".desc, $"tok").limit(3).crossJoin(stats)
      .select($"tok", round(log(($"N" * 2 + 1).cast("double") /
        ($"df" * 2 + 1).cast("double")) * 1e6).cast("long").as("idf_micro"), $"A", $"N")
    val len = tx.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    tx.join(qterms, Seq("tok")).groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("tf"), first($"idf_micro").as("idf_micro"),
        first($"A").as("A"), first($"N").as("N"))
      .join(len, Seq("doc_id"))
      .withColumn("term_score",
        expr("(idf_micro * 22 * A * tf) div (10 * A * tf + 3 * A + 9 * len * N)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_score").as("score"))
      .orderBy($"score".desc, $"doc_id").limit(20)
  }

  /** q148 in its relational form: the top-df trigram from a DISTINCT
    * (doc_id, trigram) relation, then a (doc_id, pos, tok) relation
    * joined to itself at pos+1 and pos+2 and counted back by doc_id.
    */
  private def q148Relational(dir: String): org.apache.spark.sql.DataFrame = {
    val d = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text", split(trim($"text"), " ").as("t"))
    val tx = d.select($"doc_id", posexplode($"t")).toDF("doc_id", "pos", "tok")
    val phrase = d.select($"doc_id", explode(expr(
        """CASE WHEN size(t) < 3 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(0, size(t)-3),
          |  i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) END""".stripMargin)).as("g"))
      .distinct().groupBy($"g").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"g").limit(1)
      .select($"g", split($"g", " ").as("w"))
      .select($"g", $"w"(0).as("w1"), $"w"(1).as("w2"), $"w"(2).as("w3"))
    def at(k: Int, w: String) = tx.join(phrase, $"tok" === col(w))
      .select($"doc_id", ($"pos" - k).as("pos"), $"g")
    at(0, "w1").join(at(1, "w2").drop("g"), Seq("doc_id", "pos"))
      .join(at(2, "w3").drop("g"), Seq("doc_id", "pos"))
      .groupBy($"doc_id").agg(first($"g").as("phrase"), count(lit(1)).as("n_occurrences"))
      .join(d.select($"doc_id", $"text"), Seq("doc_id"))
      .select($"doc_id", $"phrase", $"n_occurrences",
        (instr(concat(lit(" "), trim($"text"), lit(" ")),
          concat(lit(" "), $"phrase", lit(" "))) > 0).as("contains_str"))
      .orderBy($"doc_id")
  }

  test("q131 and q148 equal their relational form on the fixture and on edge-case corpora") {
    def same(what: String, got: org.apache.spark.sql.DataFrame,
        ref: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
      assert(got.schema.map(f => f.name -> f.dataType) ==
        ref.schema.map(f => f.name -> f.dataType), s"$what: schema")
      val (g, r) = (got.collect().toSeq, ref.collect().toSeq)
      assert(g == r, s"$what: got $g expected $r")
      g
    }
    assert(same("sf0.001 q131", TextAnalysis.q131Bm25TopK(spark, sfDir),
      q131Relational(sfDir)).length == 20)
    assert(same("sf0.001 q148", TextAnalysis.q148PhraseSearch(spark, sfDir),
      q148Relational(sfDir)).nonEmpty)
    // none of these occurs in the fixtures: a NULL text, empty tokens
    // from double spaces, docs under three tokens, overlapping phrase
    // hits, a quote inside a query token, fewer than three distinct
    // tokens, and corpora with no trigram or no token at all
    val corpora = Seq(
      "mixed" -> Seq("x y x y x y", "x y x", "it's x y x it's", "a  b  x y x",
        "x y", "x", null, "", "  x  y  ", "y x y x"),
      "quotes" -> Seq("it's a b", "it's a b it's", "x it's a b", "it's"),
      "two tokens" -> Seq("x y x y x y", "y x", "x"),
      "no trigram" -> Seq("a b", "c", null),
      "no token" -> Seq(null, null))
    val noAnsi = spark.newSession()
    noAnsi.conf.set("spark.sql.ansi.enabled", "false")
    val got = corpora.map { case (name, texts) =>
      val d = Files.createTempDirectory("graft_bm25_phrase").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val rows = for (s <- Seq(spark, noAnsi)) yield {
        val ansi = s.conf.get("spark.sql.ansi.enabled")
        val r131 = same(s"$name (ansi $ansi) q131", TextAnalysis.q131Bm25TopK(s, d),
          q131Relational(d))
        val r148 = same(s"$name (ansi $ansi) q148", TextAnalysis.q148PhraseSearch(s, d),
          q148Relational(d))
        OpUtils.SessionMemo.releaseAll(s, d)
        (r131, r148)
      }
      assert(rows.distinct.length == 1, s"$name: ANSI on and off disagree")
      name -> rows.head
    }.toMap
    // the edge cases the comparison must have reached
    assert(got("mixed")._2.map(r => r.getLong(0) -> r.getLong(2)) ==
      Seq(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
    assert(got("mixed")._2.forall(_.getString(1) == "x y x"))
    assert(got("quotes")._2.map(_.getString(1)).distinct == Seq("it's a b"))
    assert(got("two tokens")._1.map(_.getLong(1)) == Seq(2L, 2L, 1L))
    assert(got("no trigram")._2.isEmpty && got("no trigram")._1.nonEmpty)
    assert(got("no token")._1.isEmpty && got("no token")._2.isEmpty)
  }

  test("q131 term score equals BigInt arithmetic at corpus scale, ANSI on and off") {
    // A = 1e12 tokens: idf·22·A·tf passes the BIGINT range at tf = 1
    val (a, n) = (1000000000000L, 2000000000L)
    val idfs = Seq(1L, 693147L, 21416413L)
    val cases = for (idf <- idfs; tf <- Seq(0L, 1L, 7L, 100000L);
      len <- Seq(1L, 350L, 4000000L)) yield (idf, tf, len)
    def want(idf: Long, tf: Long, len: Long): Long =
      ((BigInt(idf) * 22 * a * tf) / (BigInt(10) * a * tf + BigInt(3) * a +
        BigInt(9) * len * n)).toLong
    val noAnsi = spark.newSession()
    noAnsi.conf.set("spark.sql.ansi.enabled", "false")
    for (s <- Seq(spark, noAnsi)) {
      import s.implicits._
      val df = cases.toDF("idf", "tf", "len")
      val scores = idfs.map(idf =>
        when($"idf" === idf, TextAnalysis.bm25Term(idf, a, n, $"tf", $"len")))
      val got = df.select($"idf", $"tf", $"len", coalesce(scores: _*).as("score"))
      assert(got.schema("score").dataType == org.apache.spark.sql.types.LongType)
      got.as[(Long, Long, Long, Long)].collect().foreach { case (idf, tf, len, score) =>
        assert(score == want(idf, tf, len),
          s"ansi ${s.conf.get("spark.sql.ansi.enabled")}: idf $idf tf $tf len $len")
      }
    }
  }

  test("q131 and q148 per-call Spark jobs stay at their counts") {
    // one warm-up call first: a corpus's first touch can read parquet in
    // one extra job, so only calls after it are counted
    def jobsPerCall(q: => org.apache.spark.sql.DataFrame): Int = {
      q.write.format("noop").mode("overwrite").save()
      OpUtils.SessionMemo.releaseAll(spark, sfDir)
      jobsOf(q.write.format("noop").mode("overwrite").save())
    }
    val q131 = jobsPerCall(TextAnalysis.q131Bm25TopK(spark, sfDir))
    val q148 = jobsPerCall(TextAnalysis.q148PhraseSearch(spark, sfDir))
    // upper bounds at this fixture's counts (14 and 18 with the token
    // relations): an action or join stage added back fails here
    assert(q131 <= 8, s"q131 (memo build + noop write) ran $q131 jobs")
    assert(q148 <= 7, s"q148 ran $q148 jobs")
  }

  test("q149: MMR picks match an exact driver-side greedy over the BM25 pool") {
    val pool = TextAnalysis.q131Bm25TopK(spark, sfDir)
      .select($"doc_id", $"score").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maxScore = pool.map(_._2).max
    val rel = pool.map { case (d, s) => d -> s * 10000L / maxScore }.toMap
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ", -1).toSet).toMap
    def simBp(a: Long, b: Long): Long = {
      val (ta, tb) = (toks(a), toks(b))
      val i = (ta & tb).size.toLong
      i * 10000L / (ta.size + tb.size - i)
    }
    var picked = Vector.empty[(Long, Long, Long)] // (doc, rel, mmr)
    for (r <- 1 to 5) {
      val cands = rel.keys.filterNot(d => picked.exists(_._1 == d))
      val scored = cands.map { d =>
        val pen = if (picked.isEmpty) 0L else picked.map(p => simBp(d, p._1)).max
        (d, rel(d), rel(d) - pen)
      }
      picked :+= scored.minBy { case (d, _, m) => (-m, d) }
    }
    val got = TextAnalysis.q149MmrRerank(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rel_bp"),
        r.getAs[Long]("mmr")))
    assert(got.toVector == picked, s"got ${got.toVector} expected $picked")
    assert(got.map(_._1).distinct.length == 5, "five distinct picks")
    assert(got.head._2 == 10000L, "round 1 is the relevance argmax")
  }

  test("q195: decile calibration replays from a driver-side rank fold") {
    val q = TextAnalysis.q27QualityScore(spark, sfDir)
      .selectExpr("doc_id", "CAST(round(quality * 1e6) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nll = TextAnalysis.q76UnigramNll(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"nll_micro").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val n = q.size.toLong
    val sorted = q.values.toSeq.sorted
    val cuts = (1 to 9).map(k => sorted((((n * k + 9) / 10) - 1).toInt))
    val expected = q.toSeq.map { case (d, qs) =>
      (1L + cuts.count(qs > _), qs, nll(d)._1, nll(d)._2)
    }.groupBy(_._1).map { case (dec, xs) =>
      dec -> ((xs.size.toLong, xs.map(_._2).sum / xs.size,
        xs.map(_._4).sum / xs.map(_._3).sum))
    }
    val got = TextAnalysis.q195QualityCalibration(spark, sfDir).collect()
      .map(r => r.getAs[Long]("decile") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("mean_quality_micro"),
          r.getAs[Long]("per_token_nll_micro")))).toMap
    assert(got == expected, s"got $got expected $expected")
    // exact deciles: every bucket within rounding of n/10
    got.values.foreach { case (nd, _, _) =>
      assert(math.abs(nd - n / 10) <= n / 10,
        s"decile size $nd far from ${n / 10}") }
    // mean quality strictly increases with the decile — the cut
    // arithmetic would be broken otherwise
    val means = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(means == means.sorted && means.distinct == means,
      "decile mean quality must be strictly increasing")
  }

  test("q218: quantile normalization replays from a driver-side rank map") {
    // per-doc (source, qs) from the declared q27 score — the same frozen
    // basis the operator uses
    val rows = TextAnalysis.q27QualityScore(spark, sfDir)
      .selectExpr("doc_id", "CAST(round(quality * 1e6) AS BIGINT) AS qs")
      .join(graft.sources.Tables.documents(spark, sfDir).select($"doc_id", $"source"),
        Seq("doc_id"))
      .select($"source", $"qs").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val n = rows.size.toLong
    // global per-mille grid: edge k = min qs with cum*1000 >= n*k
    val gCum = rows.map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, c0), (v, c)) => (v, c0 + c) }.drop(1)
    def edge(k: Long): Long = gCum.find(_._2 * 1000 >= n * k).get._1
    val bySource = rows.groupBy(_._1)
    val expected = bySource.map { case (src, rs) =>
      val ns = rs.size.toLong
      val sCum = rs.map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
        .scanLeft((Long.MinValue, 0L)) { case ((_, c0), (v, c)) => (v, c0 + c) }.drop(1)
      val mapQs = sCum.map { case (v, cum) =>
        v -> edge((cum * 1000 + ns - 1) / ns) }.toMap
      val before = rs.map(_._2)
      val after = before.map(mapQs)
      src -> ((ns, before.sum / ns, after.sum / ns,
        before.zip(after).map { case (b, a) => math.abs(a - b) }.max))
    }
    val got = TextAnalysis.q218QuantileNormalize(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("mean_before_micro"),
          r.getAs[Long]("mean_after_micro"), r.getAs[Long]("max_shift_micro")))).toMap
    assert(got == expected, s"got $got expected $expected")
    // normalization pulls every source's mean to the global distribution:
    // the spread of after-means must be far tighter than before-means
    val spreadB = got.values.map(_._2).max - got.values.map(_._2).min
    val spreadA = got.values.map(_._3).max - got.values.map(_._3).min
    assert(spreadA * 4 <= spreadB,
      s"after-spread $spreadA should collapse vs before-spread $spreadB")
    assert(got.values.map(_._1).sum == n, "n-conservation across sources")
  }

  test("q223: RBO census — self-agreement is exactly 10000 bp, disjoint is 0, prefix-swap replays") {
    def rk(ids: Seq[Long], col: String) =
      ids.zipWithIndex.map { case (d, i) => (d, i + 1L) }.toDF("doc_id", col)
    val a = (1L to 10L)
    // identical rankings: every depth fully overlaps, T == Tmax
    val self = TextAnalysis.rboCensus(rk(a, "r_lex"), rk(a, "r_sem")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(self.forall { case (d, ov, bp) => ov == d && bp == 10000L }, self.toSeq)
    // disjoint rankings: zero everywhere
    val disj = TextAnalysis.rboCensus(rk(a, "r_lex"), rk(a.map(_ + 100), "r_sem"))
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(disj.forall(t => t._1 == 0L && t._2 == 0L), disj.toSeq)
    // same set, first two swapped: depth 1 misses, depths 2..10 full —
    // replay the exact fold in BigInt
    val swapped = a.updated(0, 2L).updated(1, 1L)
    val got = TextAnalysis.rboCensus(rk(a, "r_lex"), rk(swapped, "r_sem"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ws = (1 to 10).map(d =>
      d.toLong -> BigInt(9).pow(d) * BigInt(10).pow(10 - d) * (2520 / d)).toMap
    val ovs = (1 to 10).map(d => d.toLong -> (if (d == 1) 0L else d.toLong)).toMap
    val t = ws.map { case (d, w) => w * ovs(d) }.sum
    val tmax = ws.map { case (d, w) => w * d }.sum
    val bp = (t * 10000 / tmax).toLong
    got.foreach { case (d, ov, term, rbp) =>
      assert(ov == ovs(d) && BigInt(term) == ws(d) * ovs(d) && rbp == bp,
        s"depth $d: ($ov, $term, $rbp) vs (${ovs(d)}, ${ws(d) * ovs(d)}, $bp)") }
    // and the declared query replays from its own collected arms on the
    // fixture (zero overlap there — the arms rank disjoint documents)
    val fix = TextAnalysis.q223RankOverlap(spark, sfDir).collect()
    assert(fix.length == 10 && fix.map(_.getLong(0)).toSeq == (1L to 10L))
  }

  test("q188: bigram NLL replays from a driver-side smoothed-LM fold") {
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ", -1).toSeq).toMap
    val docBigrams = texts.view.mapValues(t =>
      if (t.size < 2) Seq.empty else t.sliding(2).map(p => (p(0), p(1))).toSeq)
      .toMap
    val c2 = docBigrams.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = texts.values.flatten.toSet.size.toLong
    def sMicro(b: (String, String)): Long =
      math.round(math.log((c1(b._1) + v).toDouble / (c2(b) + 1)) * 1e6)
    val expected = docBigrams.collect { case (d, bs) if bs.nonEmpty =>
      d -> ((bs.size.toLong, bs.map(sMicro).sum))
    }
    val got = TextAnalysis.q188BigramNll(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("nll_micro")))).toMap
    assert(got == expected)
    // surprisal is non-negative by construction (c2 <= c1, v >= 1), so
    // the frozen terms never need the sign-split division
    assert(c2.keys.forall(b => sMicro(b) >= 0L))
    // the sequence-sensitivity claim: a doc scores its bigrams, so two
    // docs with identical token MULTISETS but different orders differ
    val multisets = texts.view.mapValues(_.groupBy(identity).view
      .mapValues(_.size).toMap).toMap
    val samePairs = for {
      (a, ma) <- multisets.toSeq; (b, mb) <- multisets.toSeq
      if a < b && ma == mb
    } yield (a, b)
    samePairs.headOption.foreach { case (a, b) =>
      assert(texts(a) != texts(b) || got(a) == got(b)) }
  }

  test("q185: RRF fusion equals a driver-side replay of both arms") {
    // lexical arm: ranks over the declared BM25 pool
    val lexRank = TextAnalysis.q131Bm25TopK(spark, sfDir)
      .select($"doc_id", $"score").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (d, s) => (-s, d) }
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
    // semantic arm: md5-first query vector, sequential-double cosine
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    val (qid, qe) = embs.map { case (id, e) => (md5hex(id.toString), id, e) }
      .minBy(t => (t._1, t._2)) match { case (_, id, e) => (id, e) }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) =>
        dot += x.toDouble * y.toDouble; na += x.toDouble * x.toDouble
        nb += y.toDouble * y.toDouble }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val semRank = embs.filter(_._1 != qid)
      .map { case (id, e) => (id, cos(qe, e)) }
      .filterNot { case (_, c) => c.isNaN }
      .sortBy { case (d, c) => (-c, d) }.take(20)
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
    val expected = (lexRank.keySet ++ semRank.keySet).toSeq.map { d =>
      val rrf = lexRank.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        semRank.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (d, lexRank.getOrElse(d, 0L), semRank.getOrElse(d, 0L), rrf)
    }.sortBy { case (d, _, _, rrf) => (-rrf, d) }.take(10)
    val got = TextAnalysis.q185HybridRrf(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("r_lex"),
        r.getAs[Long]("r_sem"), r.getAs[Long]("rrf_micro"))).toSeq
    assert(got == expected, s"got $got expected $expected")
    // the fixture must exercise genuine fusion: both arms contribute
    assert(got.exists(_._2 > 0) && got.exists(_._3 > 0),
      "fused top-10 must draw from both retrieval arms")
  }

  /** Literal sequential BPE: per round count weighted adjacent pairs,
    * merge the (count desc, pair asc) winner left-to-right per word —
    * the scan the relational islands formulation must reproduce.
    */
  private def bpeFold(vocab: Map[String, Long], rounds: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var vs = vocab.map { case (w, n) => (w.map(_.toString).toList, n) }.toList
    (1 to rounds).map { r =>
      val cnt = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((syms, n) <- vs; i <- 0 until syms.length - 1)
        cnt((syms(i), syms(i + 1))) += n
      val ((x, y), c) = cnt.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      vs = vs.map { case (syms, n) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
            out += x + y; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toList, n)
      }
      (r.toLong, x, y, x + y, c)
    }
  }

  test("q206: learned merges equal a literal sequential BPE fold") {
    val got = TextAnalysis.q206BpeMerges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val vocab = graft.sources.Tables.documents(spark, sfDir)
      .select(explode(split(trim($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == bpeFold(vocab, 3), s"got $got")
  }

  test("q206 machinery: self-pair runs merge leftmost-greedy (aaaa -> aa aa)") {
    import spark.implicits._
    // 'aaaa'×9 + 'aaab'×1: round 1 must pick (a,a) and merge the even
    // offsets only; round 2 then sees ('aa','aa') in aaaa and ('aa','ab')
    // in aaab — a wrong greedy (odd-offset keep or double-count) changes
    // both the round-2 winner and its count.
    val v = Seq(("aaaa", 9L), ("aaab", 1L)).toDF("w", "n")
    val got = TextAnalysis.bpeMerges(v, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val expected = bpeFold(Map("aaaa" -> 9L, "aaab" -> 1L), 2)
    assert(got == expected, s"got $got expected $expected")
    // round 1: (a,a) appears 3×9 + 2×1 = 29 weighted times
    assert(got.head == ((1L, "a", "a", "aa", 29L)))
    // round 2 state must be aaaa->[aa,aa], aaab->[aa,a,b]: top pair (aa,aa)=9
    assert(got(1) == ((2L, "aa", "aa", "aaaa", 9L)))
  }
}
