package graft.ml

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** qa9: ALS SERVING LAYER — the deployment step the reference's
  * pipeline (train → evaluate) stops short of: turning the fitted
  * factor model into a low-latency top-k recommender. Exact scoring is
  * a dot-product scan of ALL item factors per request; at catalog
  * scale production serves from an ANN index over the item factors
  * instead, trading recall for a bounded candidate set. This operator
  * builds BOTH paths from one persisted seeded fit (the ModelStore's
  * train-once / load-and-serve doctrine) — brute-force exact top-k
  * (the q6c broadcast-anchor shape) and an IVF index (q63's
  * fixed-coarse-quantizer construction: first-nLists factors as
  * centroids, nearest-centroid assignment, nProbe lists probed per
  * user) — and grades the relationship between them.
  *
  * Factors are seeded-stochastic (they shift with partitioning, like
  * q70–q74), so the graded row follows the ML contract-row doctrine:
  * deterministic columns the oracle replays integer-exactly (the probe
  * users — 8 smallest train userIds via the Lehmer gate; the train
  * catalog size), one THEOREM column (probing ALL lists is exhaustive:
  * the IVF assignment partitions the catalog, so all-list probing IS
  * brute force and its recall@k is exactly k — any other value is an
  * index-construction bug), and the tuning observation (nProbe=2
  * recall) as a documented in-band boolean.
  *
  * Floor measurement (sf0.01, local[4]/[8]/[32], measured by a
  * since-deleted probe main, ServingProbe, kept in git history):
  * per-user nProbe=2 recall spans 0.4-1.0 with min hits 4/10 at every
  * core count. The graded floor is 2/10 — two hits of slack under the
  * observed minimum, because the driver REGENERATES fixtures between
  * rounds and the factor geometry (hence per-user recall) moves with
  * the data; same doctrine as the q70-q74 RMSE bands, sized for
  * fixture churn rather than just core-count variance. */
object Serving {

  def alsServing(spark: SparkSession, dir: String, k: Int = 10,
      nLists: Int = 4, nProbe: Int = 2,
      recallFloorX10: Int = 2): DataFrame = {
    // round-7 verdict item 2: serve from the PERSISTED model (train-once
    // via the ModelStore, ~6 s of refit cost gone from every serving
    // invocation). userFactors carries exactly the distinct train
    // userIds, so the 8-smallest probe set is value-identical to the
    // old distinct-over-train derivation.
    val model = ModelStore.loadAls(spark, dir)
    val items = model.itemFactors
      .select(col("id").as("item"), col("features").as("ivec")).cache()
    val nItems = items.count()
    val probeIds = model.userFactors.select(col("id").as("userId"))
      .orderBy("userId").limit(8)
    val users = model.userFactors
      .join(probeIds, col("id") === col("userId"))
      .select(col("userId"), col("features").as("uvec"))
    val byUser = Window.partitionBy("userId")
      .orderBy(col("score").desc, col("item"))
    def topK(pool: DataFrame): DataFrame = pool
      .withColumn("score", VectorFunctions.dotHof(col("uvec"), col("ivec")))
      .withColumn("r", row_number().over(byUser))
      .where(col("r") <= k)
      .select(col("userId"), col("item"))
    val exact = topK(items.crossJoin(broadcast(users))).cache()
    // IVF: deterministic-given-factors coarse quantizer (q63 pattern)
    val cents = items.orderBy("item").limit(nLists)
      .select(col("item").as("cseed"), col("ivec").as("cvec"))
      .withColumn("cid", row_number().over(Window.orderBy("cseed")))
      .drop("cseed")
    val assigned = items.crossJoin(broadcast(cents))
      .withColumn("d2", VectorFunctions.squaredL2(col("ivec"), col("cvec")))
      .withColumn("rc", row_number().over(
        Window.partitionBy("item").orderBy(col("d2"), col("cid"))))
      .where(col("rc") === 1)
      .select(col("item"), col("ivec"), col("cid")).cache()
    val probes = users.crossJoin(broadcast(cents))
      .withColumn("d2", VectorFunctions.squaredL2(col("uvec"), col("cvec")))
      .withColumn("rp", row_number().over(
        Window.partitionBy("userId").orderBy(col("d2"), col("cid"))))
      .cache()
    def annTopK(np: Int): DataFrame = topK(
      probes.where(col("rp") <= np)
        .select(col("userId"), col("uvec"), col("cid"))
        .join(assigned, "cid"))
    def overlap(ann: DataFrame, out: String): DataFrame = exact
      .join(ann, Seq("userId", "item"))
      .groupBy("userId").agg(count(lit(1)).as(out))
    val candCount = probes.where(col("rp") <= nProbe)
      .select(col("userId"), col("cid"))
      .join(assigned.select(col("cid")), "cid")
      .groupBy("userId").agg(count(lit(1)).as("n_cand"))
    users.select(col("userId"))
      .join(overlap(annTopK(nLists), "recall_exhaustive"), "userId")
      .join(overlap(annTopK(nProbe), "hits_probe"), Seq("userId"), "left")
      .join(candCount, "userId")
      .na.fill(0L, Seq("hits_probe"))
      .select(col("userId"),
        lit(k.toLong).as("k"),
        lit(nItems).as("n_train_items"),
        col("recall_exhaustive"),
        (col("hits_probe") * 10 >= lit(recallFloorX10.toLong) * k)
          .as("probe_recall_ok"),
        (col("n_cand") < lit(nItems)).as("probed_set_pruned"))
      .orderBy("userId")
  }

  def alsServingOracle: String = s"""
    WITH train AS (
      SELECT l_suppkey AS userId, l_partkey AS movieId
      FROM lineitem
      WHERE ${FixturePipelines.trainGateSql}),
    pu AS (SELECT DISTINCT userId FROM train ORDER BY userId LIMIT 8),
    ti AS (SELECT CAST(count(DISTINCT movieId) AS BIGINT) AS n FROM train)
    SELECT CAST(pu.userId AS INTEGER) AS userId,
           CAST(10 AS BIGINT) AS k,
           ti.n AS n_train_items,
           CAST(10 AS BIGINT) AS recall_exhaustive,
           true AS probe_recall_ok,
           true AS probed_set_pruned
    FROM pu CROSS JOIN ti
    ORDER BY userId"""

  /** qaj: PERSISTED-MODEL SERVING — the load-and-serve contract row.
    * Everything here is computed from models LOADED off the ModelStore
    * (no fit in this query once the store exists): the loaded ALS
    * factors serve the 8-probe-user exact top-k (q6c broadcast-anchor
    * shape), and the graded columns are the facts persistence must
    * preserve:
    *
    *  - `n_train_users`/`n_train_items`: loaded factor-frame counts,
    *    which equal the distinct train user/item counts — the oracle
    *    replays them integer-exactly through the Lehmer train gate, so
    *    a store serving factors from a STALE fixture hash-fails;
    *  - `rank_loaded`: the persisted hyperparameter round-trips;
    *  - `n_recs`: serving from loaded factors yields a full top-k per
    *    probe user (catalog ≥ k);
    *  - `als_roundtrip_exact` / `kmeans_roundtrip_exact`: the loaded
    *    parameters equal the save-time checksums the store recorded
    *    from the FITTED models (ModelStore scaladoc) — write fidelity
    *    graded even when the fit happened in a previous JVM;
    *  - `kmeans_k_loaded`/`center_dim`: the persisted clusterer's
    *    shape; dim = the one-hot genre vocabulary, which the oracle
    *    re-derives from part's p_type tokens.
    */
  def persistedServing(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val store = ModelStore.ensure(spark, dir)
    val model = org.apache.spark.ml.recommendation.ALSModel
      .load(s"$store/als")
    val km = org.apache.spark.ml.clustering.KMeansModel
      .load(s"$store/kmeans")
    val stored = ModelStore.storedChecksums(store)
    val alsOk =
      ModelStore.factorChecksum(model.userFactors) == stored("als_user") &&
      ModelStore.factorChecksum(model.itemFactors) == stored("als_item")
    val kmOk = ModelStore.centersChecksum(km) == stored("kmeans")
    val items = model.itemFactors
      .select(col("id").as("item"), col("features").as("ivec"))
    val nItems = model.itemFactors.count()
    val nUsers = model.userFactors.count()
    val probeIds = model.userFactors.select(col("id").as("userId"))
      .orderBy("userId").limit(8)
    val users = model.userFactors
      .join(broadcast(probeIds), col("id") === col("userId"))
      .select(col("userId"), col("features").as("uvec"))
    val byUser = Window.partitionBy("userId")
      .orderBy(col("score").desc, col("item"))
    items.crossJoin(broadcast(users))
      .withColumn("score", VectorFunctions.dotHof(col("uvec"), col("ivec")))
      .withColumn("r", row_number().over(byUser))
      .where(col("r") <= k)
      .groupBy("userId").agg(count(lit(1)).as("n_recs"))
      .select(col("userId"),
        lit(k.toLong).as("k"),
        lit(model.rank).as("rank_loaded"),
        lit(nUsers).as("n_train_users"),
        lit(nItems).as("n_train_items"),
        col("n_recs"),
        lit(alsOk).as("als_roundtrip_exact"),
        lit(ModelStore.KmeansK).as("kmeans_k_loaded"),
        lit(km.clusterCenters.head.size.toLong).as("center_dim"),
        lit(kmOk).as("kmeans_roundtrip_exact"))
      .orderBy("userId")
  }

  def persistedServingOracle: String = s"""
    WITH train AS (
      SELECT l_suppkey AS userId, l_partkey AS movieId
      FROM lineitem
      WHERE ${FixturePipelines.trainGateSql}),
    pu AS (SELECT DISTINCT userId FROM train ORDER BY userId LIMIT 8),
    t AS (SELECT CAST(count(DISTINCT userId) AS BIGINT) AS n_users,
                 CAST(count(DISTINCT movieId) AS BIGINT) AS n_items
          FROM train),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS dim
          FROM (SELECT unnest(string_split(p_type, ' ')) AS tok FROM part))
    SELECT CAST(pu.userId AS INTEGER) AS userId,
           CAST(10 AS BIGINT) AS k,
           CAST(10 AS INTEGER) AS rank_loaded,
           t.n_users AS n_train_users,
           t.n_items AS n_train_items,
           CAST(10 AS BIGINT) AS n_recs,
           true AS als_roundtrip_exact,
           CAST(3 AS INTEGER) AS kmeans_k_loaded,
           v.dim AS center_dim,
           true AS kmeans_roundtrip_exact
    FROM pu CROSS JOIN t CROSS JOIN v
    ORDER BY userId"""
}
