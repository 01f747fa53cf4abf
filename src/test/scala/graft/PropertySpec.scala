package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._

/** Property-based laws (SURVEY.md §5.2 item 3): dedup idempotence,
  * filter/union algebra, round trips. Uses ScalaCheck generators with a
  * fixed-seed sampling loop (the scalatest+scalacheck bridge artifact is
  * not provisioned, so sampling is driven manually).
  */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.oneOf("the", "fast", "key", "order", "sort", "scan", "merge")
  private val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))

  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    samples(Gen.listOfN(20, docGen), 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = df.withColumn("fp", md5(lower(trim($"text"))))
        .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      val twice = once.withColumn("fp2", $"fp")
        .groupBy($"fp2").agg(min($"doc_id").as("doc_id"))
      assert(once.count() == twice.count())
    }
  }

  test("filter split law: filter(a && b) == filter(a).filter(b)") {
    samples(Gen.listOfN(30, Gen.chooseNum(-100, 100)), 5).foreach { xs =>
      val df = xs.toDF("x")
      val both = df.filter($"x" > 0 && $"x" % 2 === 0).count()
      val chained = df.filter($"x" > 0).filter($"x" % 2 === 0).count()
      assert(both == chained)
    }
  }

  test("union count law: |a union all b| == |a| + |b|") {
    samples(Gen.zip(Gen.listOf(Gen.chooseNum(0, 50)), Gen.listOf(Gen.chooseNum(0, 50))), 5)
      .foreach { case (a, b) =>
        assert(a.toDF("x").union(b.toDF("x")).count() == a.length + b.length)
      }
  }

  test("parquet round trip preserves rows and schema") {
    samples(Gen.listOfN(10, Gen.zip(Gen.posNum[Long], docGen)), 3).foreach { rows =>
      val df = rows.toDF("id", "text")
      val dir = java.nio.file.Files.createTempDirectory("graft_prop").toString + "/t"
      df.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      // parquet round trip relaxes nullability; compare names + types
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.count() == rows.length)
    }
  }

  test("headerOnly keeps schema, drops rows; ensureDir creates path") {
    val df = Seq((1, "a")).toDF("x", "y")
    val h = graft.sources.Sinks.headerOnly(df)
    assert(h.schema == df.schema && h.count() == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dir").toString + "/bucket/sub"
    assert(graft.sources.Sinks.ensureDir(spark, s"file://$dir"))
  }

  test("dedupClusters matches brute-force connected components on random graphs") {
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)).suchThat(p => p._1 != p._2))
    samples(edgeGen, 5).foreach { raw =>
      val pairs = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (pairs.nonEmpty) {
        // brute union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val expect = verts.map(v => v -> find(v)).toMap
        val got = graft.operators.Dedup.dedupClusters(pairs.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"edges $pairs")
      }
    }
  }

  test("prefix-filtered inverted-index jaccard is lossless on random corpora") {
    val corpusGen = Gen.listOfN(12, docGen)
    samples(corpusGen, 3).foreach { texts =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_jac").toString
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val exact = graft.operators.Dedup.ngramJaccardAllPairs(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val inv = graft.operators.Dedup.ngramJaccardInverted(spark, dir, 0.5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(inv == exact,
        s"missing=${exact.keySet -- inv.keySet} spurious=${inv.keySet -- exact.keySet}")
    }
  }

  test("ExactCentroidAggregator is bitwise partition-order invariant") {
    import org.apache.spark.sql.functions.posexplode
    val vecGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0, 3), Gen.listOfN(8, Gen.chooseNum(-1000, 1000).map(_ / 997.0f))))
    samples(vecGen, 3).foreach { rows =>
      def centroids(nPart: Int): Map[(Long, Int), Double] = {
        val ds = rows.toDF("label", "embedding")
          .repartition(nPart)
          .select($"label".cast("long").as("label"), $"embedding")
          .as[(Long, Array[Float])]
        ds.groupByKey(_._1).mapValues(_._2)
          .agg(graft.functions.ExactCentroidAggregator.toColumn.name("centroid"))
          .toDF("label", "centroid")
          .select($"label", posexplode($"centroid").as(Seq("d", "c")))
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      }
      val one = centroids(1)
      val many = centroids(7)
      assert(one == many, "scaled-integer sums must be partition-order invariant")
    }
  }

  test("thresholded levenshtein == full kernel clamped at the bound, on random pairs") {
    // q112/q136 verify with levenshtein(l, r, 40) (banded O(k·len) DP).
    // Law: for ANY pair, the thresholded form returns the full distance
    // when it is <= k and -1 otherwise — the exact contract the oracle
    // comparison relies on. Random strings over a small alphabet produce
    // distances straddling the bound.
    val sGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
    var below = 0; var above = 0
    samples(Gen.zip(Gen.listOfN(25, Gen.zip(sGen, sGen)), Gen.oneOf(3, 10, 40)), 3)
      .foreach { case (pairs, k) =>
        val rows = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("id", "a", "b")
          .select($"id", levenshtein($"a", $"b").as("full"),
            levenshtein($"a", $"b", k).as("banded"))
          .collect()
        rows.foreach { r =>
          val (full, banded) = (r.getAs[Int]("full"), r.getAs[Int]("banded"))
          if (full <= k) { below += 1; assert(banded == full,
            s"banded($k) must equal full distance $full") }
          else { above += 1; assert(banded == -1,
            s"banded($k) must return -1 above the bound, got $banded (full $full)") }
        }
      }
    // across all samples both branches must have been exercised
    assert(below > 0 && above > 0, s"degenerate sampling: below=$below above=$above")
  }

  test("TopKByScore equals the sort-based reference and is partition-order invariant") {
    // the bounded-state aggregator behind every ANN search, raw and
    // through its one seam `TopKByScore.ranked`: its (score desc, id asc)
    // top-k must equal a full sort's head, under any partitioning
    // (map-side partials merge associatively).
    val rowGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(1, 200),
        Gen.chooseNum(-1000, 1000).map(_ / 997.0)))
    samples(rowGen, 3).foreach { rows =>
      // dedup ids within a group: ties on (score, id) would make the
      // reference ambiguous only if the SAME id repeats
      val data = rows.distinctBy(r => (r._1, r._2))
      val expected = data.groupBy(_._1).view.mapValues(
        _.sortBy(r => (-r._3, r._2.toLong)).take(5)
          .map(r => (r._2.toLong, r._3))).toMap
      Seq(1, 7).foreach { nPart =>
        val input = data.toDF("g", "id", "score")
          .withColumn("id", $"id".cast("long"))
          .repartition(nPart)
        val top5 = graft.functions.TopKByScore(5)
        // the raw aggregator, and the engine's one top-k seam over it
        val viaAgg = input
          .groupBy($"g")
          .agg(top5($"score", $"id").as("top"))
          .select($"g", posexplode($"top").as(Seq("pos", "t")))
          .select($"g", ($"pos" + 1).as("rk"), $"t.b_id".as("id"), $"t.cs".as("score"))
        val viaSeam = graft.functions.TopKByScore.ranked(input, "g", "score", "id", 5)
        Seq("aggregator" -> viaAgg, "ranked" -> viaSeam).foreach { case (path, df) =>
          val rows = df.collect()
          rows.groupBy(_.getAs[Int]("g")).values.foreach { rs =>
            assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rs.length),
              s"$path nPart=$nPart: ranks must run 1..n")
          }
          val got = rows
            .groupBy(_.getAs[Int]("g"))
            .view.mapValues(_.sortBy(_.getAs[Int]("rk"))
              .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toList)
            .toMap
          assert(got == expected.map { case (k, v) => k -> v.toList },
            s"$path nPart=$nPart")
        }
      }
    }
  }

  test("chunking covers every token exactly once per 64-token stripe") {
    val sizeGen = Gen.chooseNum(1, 400)
    samples(Gen.listOfN(6, sizeGen), 3).foreach { sizes =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_chunk").toString
      sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(k => s"w$k").mkString(" "), "en", "s", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = graft.operators.TextAnalysis.q62ChunkDocs(spark, dir).collect()
      sizes.zipWithIndex.foreach { case (n, i) =>
        val cs = rows.filter(_.getAs[Long]("doc_id") == i.toLong)
          .map(r => (r.getAs[Long]("start"), r.getAs[Long]("chunk_len")))
          .sortBy(_._1)
        // starts are exactly the multiples of 64 below n
        assert(cs.map(_._1).toSeq == (0L until n.toLong by 64L).toSeq)
        // chunks never exceed 128 tokens and never run past the doc
        cs.foreach { case (s, len) =>
          assert(len <= 128 && s + len <= n)
          assert(len == math.min(128L, n - s))
        }
        // coverage: every token index falls in >= 1 chunk
        assert(cs.map { case (s, len) => s + len }.max == n)
      }
    }
  }

  test("repetition metrics agree with a brute-force model on random docs") {
    samples(Gen.listOfN(5, Gen.listOfN(15, wordGen)), 3).foreach { docs0 =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_rep").toString
      docs0.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "s", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.operators.TextAnalysis.q58RepetitionMetrics(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      docs0.zipWithIndex.foreach { case (ws, i) =>
        val counts = ws.groupBy(identity).view.mapValues(_.size).toMap
        val n = ws.size
        val tri = ws.sliding(3).map(_.mkString(" ")).toSeq
        val r = got(i.toLong)
        assert(r.getAs[Long]("n_tokens") == n.toLong)
        assert(r.getAs[Long]("top_token_n") == counts.values.max.toLong)
        assert(r.getAs[Double]("simpson_rep") ==
          counts.values.map(c => c.toLong * (c - 1)).sum.toDouble / (n.toLong * (n - 1)))
        assert(r.getAs[Double]("dup_trigram_frac") ==
          1.0 - tri.distinct.size.toDouble / tri.size)
      }
    }
  }
}
