package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** ML-scoring hook (SURVEY.md §0: the reference declares a FastAPI +
  * scikit-learn scoring service with an empty app,
  * `citibike_project/ml_service/requirements.txt:1-6`,
  * `ml_service/app.py` 0 bytes). The Spark-native equivalent is batch
  * scoring inside the engine: MLlib pipelines over the same DataFrames,
  * trained and applied distributed — no service hop, no row-at-a-time
  * REST scoring. Model persistence via `PipelineModel.save/load` replaces
  * joblib.
  */
object Scoring {

  /** Train a trip-duration-style classifier surrogate on the harness data:
    * predict high-value orders from (quantity-ish) features. Returns the
    * fitted pipeline — `save(path)` for the model registry.
    */
  def trainOrderClassifier(spark: SparkSession, dir: String): PipelineModel = {
    import spark.implicits._
    val df = Tables.orders(spark, dir)
      .withColumn("label", when($"o_totalprice" > 1000.0, 1.0).otherwise(0.0))
      .withColumn("month", month($"o_orderdate").cast("double"))
      .withColumn("prio", regexp_extract($"o_orderpriority", "^(\\d)", 1).cast("double"))
    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("month", "prio")).setOutputCol("features"),
      new LogisticRegression().setMaxIter(10).setLabelCol("label")))
    pipeline.fit(df)
  }

  /** Batch scoring: model applied as a plan stage over any orders-shaped
    * input (the "ML service" as a DataFrame transform).
    */
  def scoreOrders(model: PipelineModel, orders: DataFrame): DataFrame = {
    val df = orders
      .withColumn("month", month(col("o_orderdate")).cast("double"))
      .withColumn("prio", regexp_extract(col("o_orderpriority"), "^(\\d)", 1).cast("double"))
    model.transform(df)
      .select(col("o_orderkey"), col("prediction"), col("probability"))
  }

  /** Unsupervised structure over the embedding table: KMeans on the
    * Array[Float] vectors (array_to_vector bridges to MLlib's VectorUDT).
    * The distributed counterpart of the "IVF coarse quantizer" an ANN
    * index would train.
    */
  def clusterEmbeddings(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .withColumn("features", array_to_vector($"embedding"))
    val model = new KMeans().setK(k).setSeed(42L).setFeaturesCol("features").fit(vecs)
    model.transform(vecs).select($"vec_id", $"label", $"prediction".as("cluster"))
  }
}
