package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Toolchain canary (round-9 verdict item 3). Round 8's Spark 3→4 swap
  * silently broke the events loader for a full round because nothing
  * asserted "every harness table loads with the types downstream code
  * assumes". This spec is that one red line: it fails the build the moment
  * a runtime upgrade or testdata regeneration changes what a scan yields.
  */
class ToolchainSpec extends AnyFunSuite with SparkSpec {

  test("spark runtime version is the verified line (4.x)") {
    info(s"spark.version = ${spark.version}")
    assert(spark.version.startsWith("4."),
      s"runtime moved to Spark ${spark.version}; re-verify session confs " +
        "(Sessions.scala) and the events ts normalization (Tables.scala)")
  }

  test("every harness table loads and has rows at sf0.001") {
    Tables.all.foreach { t =>
      val df = Tables(spark, sfDir, t)
      assert(df.columns.nonEmpty, s"$t: no columns")
    }
    // one cheap count on the smallest + the type-sensitive table
    assert(Tables.region(spark, sfDir).count() > 0)
    assert(Tables.events(spark, sfDir).count() > 0)
  }

  test("events.ts canonicalizes to session-UTC TIMESTAMP on this toolchain") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType === TimestampType,
      s"events.ts arrived as ${df.schema("ts").dataType} after " +
        "normalizeEventTs — the loader no longer matches the on-disk encoding")
    // value sanity: harness events are modern epochs, not 1970 (a wrong
    // unit — e.g. treating micros as nanos — lands decades off)
    val y = df.selectExpr("min(year(ts)) AS y").head().getInt(0)
    assert(y >= 2000 && y <= 2100, s"events.ts year $y — unit/zone drift")
  }

  test("normalizeEventTs adapts to every supported on-disk encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // raw nanos-as-long (Spark 3 legacy-conf era)
    val nanos = Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
    val fromNanos = Tables.normalizeEventTs(nanos)
    assert(fromNanos.schema("ts").dataType === TimestampType)
    assert(fromNanos.select(unix_micros($"ts")).head().getLong(0) ===
      1700000000123456L) // integer truncation, not double rounding
    // TIMESTAMP_NTZ (Spark 4 read of naive-micros parquet)
    val ntz = Seq((1L, 1700000000123456L)).toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
    val fromNtz = Tables.normalizeEventTs(ntz)
    assert(fromNtz.schema("ts").dataType === TimestampType)
    assert(fromNtz.select(unix_micros($"ts")).head().getLong(0) ===
      1700000000123456L) // UTC session ⇒ NTZ→TZ cast is micros-identity
    // already-canonical TIMESTAMP passes through untouched
    val tz = Seq((1L, 1700000000123456L)).toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
    assert(Tables.normalizeEventTs(tz).select(unix_micros($"ts")).head().getLong(0) ===
      1700000000123456L)
    // an unsupported arrival type fails loudly, not downstream
    val bad = Seq((1L, "nope")).toDF("event_id", "ts")
    intercept[IllegalStateException](Tables.normalizeEventTs(bad))
  }

  test("--smoke pre-flight passes on this toolchain and parses as a flag") {
    assert(Main.parse(Array("--smoke", sfDir)).smoke === Some(sfDir))
    assert(Main.runSmoke(spark, sfDir) === Seq.empty)
    // and it actually detects a broken harness (bad dir ⇒ named failures)
    val failures = Main.runSmoke(spark, "/tmp/graft_no_such_sf")
    assert(failures.map(_._1).contains("q20_json_extract"))
  }

  test("harness tables carry the column types the operator layer assumes") {
    def typesOf(t: String): Map[String, DataType] =
      Tables(spark, sfDir, t).schema.fields.map(f => f.name -> f.dataType).toMap
    val li = typesOf("lineitem")
    assert(li("l_orderkey") === LongType)
    assert(li("l_quantity").isInstanceOf[NumericType])
    // harness generations have shipped date-ish columns as DATE and as
    // naive TIMESTAMP (micros; NTZ under Spark 4) — queries only compare
    // them to date literals / date_trunc, valid on all three
    assert(Set[DataType](DateType, TimestampNTZType, TimestampType)
      .contains(li("l_shipdate")), s"l_shipdate = ${li("l_shipdate")}")
    val docs = typesOf("documents")
    assert(docs("doc_id") === LongType)
    assert(docs("text") === StringType)
    val emb = typesOf("embeddings")
    assert(emb("embedding") match {
      case ArrayType(t: NumericType, _) => true
      case _ => false
    }, s"embeddings.embedding = ${emb("embedding")}")
    val ev = typesOf("events")
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType)
      .contains(ev("ts")), s"events.ts raw = ${ev("ts")} — normalizeEventTs has no branch for this")
  }

  test("documents.doc_id is unique (the data contract q143/q148 rely on)") {
    // q143/q148 de-duplicate shingles with a per-doc array_distinct, which
    // equals the oracle's corpus-wide SELECT DISTINCT only when no doc_id
    // repeats
    val r = Tables.documents(spark, sfDir)
      .selectExpr("count(*) AS n", "count(DISTINCT doc_id) AS d").head()
    assert(r.getLong(0) === r.getLong(1),
      s"documents has ${r.getLong(0)} rows but ${r.getLong(1)} distinct doc_ids; " +
        "q143/q148's per-doc array_distinct no longer matches the oracle's DISTINCT")
  }

  test("src/main declares exactly the five program entry points") {
    // one-off measurement programs belong in a spec or a scratch checkout,
    // not in the engine's source tree
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val n = "def main\\(".r.findAllIn(Files.readString(f)).size
      Seq.fill(n)(root.relativize(f).toString.stripSuffix(".scala").replace('/', '.'))
    }
    assert(mains.sorted === Seq("graft.Bench", "graft.Main", "graft.Verify",
      "graft.tools.Explain", "graft.tools.PlanLedger"))
  }
}
