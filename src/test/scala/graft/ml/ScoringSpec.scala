package graft.ml

import java.nio.file.Files
import org.apache.spark.ml.PipelineModel
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables

class ScoringSpec extends AnyFunSuite with SparkSpec {

  test("train, persist, reload, batch-score orders") {
    val model = Scoring.trainOrderClassifier(spark, sfDir)
    val dir = Files.createTempDirectory("graft_model").toString + "/m"
    model.write.overwrite().save(dir)
    val reloaded = PipelineModel.load(dir)
    val scored = Scoring.scoreOrders(reloaded, Tables.orders(spark, sfDir))
    assert(scored.count() == Tables.orders(spark, sfDir).count())
    val preds = scored.select("prediction").distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(preds.subsetOf(Set(0.0, 1.0)))
  }

  test("kmeans clusters embeddings into k groups") {
    val clustered = Scoring.clusterEmbeddings(spark, sfDir, k = 4)
    assert(clustered.count() == 500)
    val clusters = clustered.select("cluster").distinct().count()
    assert(clusters > 1 && clusters <= 4)
  }
}
