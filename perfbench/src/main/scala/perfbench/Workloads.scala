package perfbench

import graft.SparkEntry
import graft.eval.Metrics
import graft.ml.{Clustering, FixturePipelines => FP, Recommend}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Where a step writes the frames it produces: warm timed passes use the
  * `noop` sink; the checked pass writes parquet for the oracle compare. */
trait Sink {
  def apply(name: String, df: DataFrame): Unit
}

/** One step of a pass, timed and failed as a whole. */
final case class Step(name: String, run: Sink => Unit)

/** A workload: the steps of one pass and the oracle SQL of every frame
  * the steps hand to the sink. `first` runs at the start of every pass;
  * the seed permutes the order of `steps`. */
trait Workload {
  /** Timed on its first pass in a fresh JVM, with no warm-up. */
  def cold: Boolean = false
  /** Steps read frames that `first` caches, so caches are cleared only
    * at the ends of a pass; otherwise before every step too. */
  def stepsShareCache: Boolean = false
  /** Untimed passes after the check pass, for a workload whose passes
    * still get faster after the first. */
  def warmPasses: Int = 0
  /** Timed passes at least, for a workload whose passes are short. */
  def minPasses: Int = 1
  def first: Seq[Step] = Nil
  def steps: Seq[Step]
  def oracleSql: Map[String, String]
}

object Workloads {
  /** MERGE INTO, an UPDATE over deletion-vector files read merge-on-read,
    * and concurrent appends racing for commits: the txn format's write
    * paths with their reads beside them, in a pass of a few seconds. */
  val TxnWrite = Seq(
    "qdo_sql_merge_into", "qe7_txn_append_contention", "qed_sql_mor_dml")

  def apply(name: String, spark: SparkSession, sf: String,
      spans: Spans): Workload = name match {
    case "recsys" => new Recsys(spark, sf, spans)
    // after the check pass, its next pass still ran 20-25% slower than
    // later ones, with the JIT compiling on 1-2 cores, and the one after
    // that 5-10% slower; a warm pass takes about 6 s (4 cores), and the
    // medians are taken over 4
    case "txn_write" =>
      new Queries(spark, sf, TxnWrite, warmPasses = 1, minPasses = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def inBand(x: Double, band: (Double, Double)): Boolean =
    x > band._1 && x < band._2
}

/** Registered engine queries, each one step. */
final class Queries(spark: SparkSession, sf: String, names: Seq[String],
    override val warmPasses: Int, override val minPasses: Int)
    extends Workload {
  val steps: Seq[Step] = names.map { q =>
    Step(q, sink => sink(q, SparkEntry.queries(q)(spark, sf)))
  }
  val oracleSql: Map[String, String] =
    names.map(q => q -> SparkEntry.oracleSql(q)).toMap
}

/** The paper's pipeline, driven through the public layer calls so each
  * call can carry a span: featurize and split, then two independent
  * branches — KMeans k-selection, fit and cluster-average prediction
  * (q70/q71), and ALS fit and evaluation (q72). The ALS fit is q72's
  * (rank 10, 10 iterations, seed 823); the k range is smaller than
  * q71's so that a run fits the benchmark's time budget.
  *
  * It is a batch job, as in the paper, so it is timed cold: one pass in a
  * fresh JVM, start-up costs included. Under the tiered JIT the first
  * warm passes that follow are the less steady figure: the compiler is
  * still busy (about 1.6 of 4 cores in the first warm pass).
  *
  * `prepare` caches the features and the split, which both branches
  * read; the pass drops them at its end.
  *
  * The frames sent to the sink are q71's and q72's contract rows, so the
  * check pass compares them with the same DuckDB SQL as those queries;
  * the rows carry the queries' RMSE bands. The test RMSEs themselves are
  * kept as per-pass values of the trace. */
final class Recsys(spark: SparkSession, sf: String, spans: Spans)
    extends Workload {
  import spark.implicits._

  override def cold: Boolean = true
  override def stepsShareCache: Boolean = true
  val Ks: Seq[Int] = 2 to 3

  private var feats: DataFrame = _
  private var train: DataFrame = _
  private var test: DataFrame = _

  override def first: Seq[Step] = Seq(Step("prepare", _ => {
    feats = spans("etl.featurize") {
      val f = FP.featurizedMovies(spark, sf)._1.cache()
      f.count()
      f
    }
    spans("ml.split") {
      val (tr, te) = FP.hashTrainTest(spark, sf)
      train = tr.cache()
      test = te.cache()
      train.count()
      test.count()
    }
  }))

  val steps: Seq[Step] = Seq(
    Step("kmeans", sink => {
      val k = spans("ml.kmeans_selectk") {
        Clustering.bestK(Clustering.selectK(spark, feats, train, ks = Ks))
      }
      val model = spans("ml.kmeans_fit")(Clustering.fit(feats, k))
      val (rmse, nScored) = spans("ml.cluster_avg") {
        val clusters = model.transform(feats)
          .select(col("movieId"), col("prediction").as("cluster"))
        val preds = Clustering.clusterAvgPredictions(train, test, clusters)
        (Metrics.rmse(preds), preds.count())
      }
      spans.add("ml.kmeans_test_rmse", rmse)
      sink("q71_kmeans_e2e",
        Seq((Workloads.inBand(rmse, FP.KmTestRmseBand), nScored, test.count()))
          .toDF("test_rmse_in_band", "n_scored", "n_test"))
    }),
    Step("als", sink => {
      val model = spans("ml.als_fit")(Recommend.fitAls(train))
      val (preds, rmse) = spans("ml.als_eval")(Recommend.evaluate(model, test))
      spans.add("ml.als_test_rmse", rmse)
      val nTest = test.count()
      sink("q72_als_e2e", preds.agg(
          lit(Workloads.inBand(rmse, FP.AlsTestRmseBand)).as("test_rmse_in_band"),
          count(lit(1)).as("n_scored"),
          countDistinct("userId").as("n_users"))
        .withColumn("n_test", lit(nTest))
        .withColumn("n_cold_dropped", lit(nTest) - col("n_scored")))
    }))

  val oracleSql: Map[String, String] =
    Seq("q71_kmeans_e2e", "q72_als_e2e")
      .map(q => q -> SparkEntry.oracleSql(q)).toMap
}
