package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The bucketed prefix-scan seam against its one-level definitions:
  * `prefixSums` equals a direct running-sum window, and `exactCuts`
  * equals brute-force cut points, on data with ties, negative values
  * (truncating `div` puts one bucket across zero), several groups, a
  * single bucket and an empty input.
  */
class OpUtilsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // (g, v, id, w): v in [-40, 40] over 300 rows, so values tie often
  private val rows = {
    val rnd = new scala.util.Random(11)
    (1L to 300L).map(id => (Seq("a", "b", "c")(rnd.nextInt(3)),
      rnd.nextInt(81).toLong - 40L, id, rnd.nextInt(9).toLong + 1L))
  }
  private def data: DataFrame = rows.toDF("g", "v", "id", "w")
  private def empty: DataFrame = data.filter(lit(false))

  private val buckets = Seq(
    "truncating div" -> expr("v div 7"),
    "arithmetic shift" -> expr("v >> 2"),
    "single bucket" -> lit(0L))

  private def direct(df: DataFrame, partition: Seq[String]): Set[(Long, Long, Long)] = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select($"id", sum($"w").over(w), row_number().over(w).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
  }

  test("prefixSums equals a direct running-sum window") {
    for ((name, bucket) <- buckets; partition <- Seq(Nil, Seq("g"))) {
      val got = OpUtils.prefixSums(data, partition, bucket, Seq($"v", $"id"),
          "cum" -> $"w", "rk" -> lit(1L))
        .select($"id", $"cum", $"rk").as[(Long, Long, Long)].collect()
      assert(got.length == rows.size, s"$name $partition: rows lost or repeated")
      assert(got.toSet == direct(data, partition), s"$name, partition $partition")
    }
    val none = OpUtils.prefixSums(empty, Seq("g"), expr("v div 7"), Seq($"v", $"id"),
      "cum" -> $"w")
    assert(none.isEmpty && none.columns.toSet == data.columns.toSet + "bkt" + "cum",
      none.columns.mkString(","))
  }

  test("exactCuts equals brute-force cut points") {
    val cuts = Seq(("p00", 0L, 1L), ("q1", 1L, 4L), ("med", 1L, 2L),
      ("p95", 95L, 100L), ("max", 1L, 1L))
    def brute(vs: Seq[Long]): Seq[Long] = {
      val n = vs.size.toLong
      val sorted = vs.sorted
      cuts.map { case (_, num, den) =>
        sorted.distinct.find(v => sorted.count(_ <= v) * den >= n * num).get }
    }
    val byGroup = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, brute(rs.map(_._2))) }.toSet
    val all = (rows.size.toLong, brute(rows.map(_._2)))
    for ((name, bucket) <- buckets) {
      val grouped = OpUtils.exactCuts(data, Seq("g"), "v", bucket, cuts: _*)
        .collect().map(r => (r.getString(0), r.getLong(1),
          (2 until r.length).map(r.getLong))).toSet
      assert(grouped == byGroup, s"$name, per group")
      val global = OpUtils.exactCuts(data, Nil, "v", bucket, cuts: _*)
        .collect().map(r => (r.getLong(0), (1 until r.length).map(r.getLong)))
      assert(global.toSeq == Seq(all), s"$name, one group")
    }
    assert(OpUtils.exactCuts(empty, Nil, "v", expr("v div 7"), cuts: _*).isEmpty)
    assert(OpUtils.exactCuts(empty, Seq("g"), "v", expr("v div 7"), cuts: _*).isEmpty)
  }
}
