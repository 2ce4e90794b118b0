package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operations a training-data pipeline runs besides
  * dedup/quality: deterministic split sampling, vocabulary statistics,
  * and per-class embedding centroids.
  *
  * Scale posture: sampling is a map-only projection + 3-group
  * aggregation; token stats are one explode + one token-keyed shuffle
  * with map-side combine; centroids are one (label, dim)-keyed shuffle
  * — all shapes that scale linearly with executors.
  */
object Corpus {

  // LCG mixing constants (same family as Similarity.planeWeight) —
  // explicit arithmetic so DuckDB reproduces the assignment bit-for-bit
  val SampleA = 1103515245L
  val SampleC = 12345L
  val TrainPct = 80
  val ValPct = 10 // test = remainder

  /** Deterministic train/val/test assignment — hash-bucket sampling on
    * the stable doc_id (NOT random: re-runs, backfills and incremental
    * appends must land every doc in the same split). The high bits of
    * an LCG mix decide the bucket; at 100 TB the same expression
    * shards any corpus with zero coordination. */
  /** Per-stratum exact-k sample size for [[stratifiedSample]]. */
  val StratifiedK = 10
  /** Hash-order modulus (== MixScale, declared here because the SQL
    * val below initializes before that later constant). */
  val StratifiedScale = 65536L

  /** STRATIFIED exact-k sampling — k docs per source, chosen by a
    * deterministic LCG-hash order (the [[sample]] generator), so the
    * draw is reproducible across runs/engines and every stratum is
    * represented with exactly min(k, |stratum|) rows — the eval-set /
    * human-review draw where a plain corpus-wide sample starves small
    * sources. Per-source ranks via
    * [[graft.functions.DistributedRanks]]: a source-partitioned
    * row_number window would pin each source's full corpus in one
    * task (the round-3 skew rule); ranking over the hash key is
    * range-partitioned instead, and only rank ≤ k rows survive. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(spark, dir))
      .withColumn("skey", expr(s"((doc_id * $SampleA + $SampleC) div 65536) % $StratifiedScale"))
    graft.functions.DistributedRanks
      .withGroupRanks(d, "source", Seq(col("skey"), col("doc_id")))
      .filter(col("rn") <= StratifiedK)
      .select(col("doc_id"), col("source"), col("rn").cast("bigint").as("sample_rank"))
      .orderBy(col("source"), col("sample_rank"))
  }

  val stratifiedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    ((doc_id * $SampleA + $SampleC) // 65536) % $StratifiedScale AS skey
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rn
       |  FROM d)
       |SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
       |FROM ranked WHERE rn <= $StratifiedK
       |ORDER BY source, sample_rank""".stripMargin

  def sample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = expr(s"((doc_id * $SampleA + $SampleC) div 65536) % 100")
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < TrainPct, "train")
          .when(bucket < TrainPct + ValPct, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("split"))
  }

  val sampleSql: String =
    s"""SELECT
       |  CASE WHEN ((doc_id * $SampleA + $SampleC) // 65536) % 100 < $TrainPct THEN 'train'
       |       WHEN ((doc_id * $SampleA + $SampleC) // 65536) % 100 < ${TrainPct + ValPct} THEN 'val'
       |       ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(doc_id) AS min_doc_id,
       |  MAX(doc_id) AS max_doc_id
       |FROM documents
       |GROUP BY split ORDER BY split""".stripMargin

  // ------------------------------------------------------------ #28c4 split leakage

  /** TRAIN/TEST SPLIT LEAKAGE report — the governance gate on
    * [[sample]]'s split: per split, how many documents share their
    * exact content digest with ANY other split (the eval-integrity
    * question behind every "did the model memorize the test set"
    * audit; GPT-3's appendix-C decontamination exists because this
    * report came back non-zero). The hash split assigns by doc_id, so
    * duplicate TEXTS scatter across splits — exact dedup must run
    * BEFORE splitting, and this is the report that proves whether it
    * did.
    *
    * Grain: one digest-keyed aggregate (counts per split), then a
    * 3-way per-digest expansion (split, own, others) rolled up to 3
    * rows — the corpus shuffles once on digest, everything after is
    * split-keyed metadata. [[graft.pipeline.Dedup.decontaminate]] is
    * the n-gram generalization; this is the exact-digest integrity
    * gate. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val bucket = expr(s"((doc_id * $SampleA + $SampleC) div 65536) % 100")
    val per = Tables.documents(spark, dir)
      .select(md5(col("text")).as("digest"),
        when(bucket < TrainPct, "train")
          .when(bucket < TrainPct + ValPct, "val")
          .otherwise("test").as("split"))
      .groupBy(col("digest"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    per
      .select(explode(array(
        struct(lit("train").as("split"), col("n_train").as("own"),
          (col("n_val") + col("n_test")).as("others")),
        struct(lit("val").as("split"), col("n_val").as("own"),
          (col("n_train") + col("n_test")).as("others")),
        struct(lit("test").as("split"), col("n_test").as("own"),
          (col("n_train") + col("n_val")).as("others")))).as("r"))
      .select(col("r.split").as("split"), col("r.own").as("own"), col("r.others").as("others"))
      .filter(col("own") > 0)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_digests"),
        sum(col("own")).as("n_docs"),
        sum(when(col("others") > 0, col("own")).otherwise(0L)).as("n_leaked"))
      .withColumn("leak_rate",
        round(col("n_leaked").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("split"))
  }

  val splitLeakageSql: String =
    s"""WITH d AS (
       |  SELECT md5(text) AS digest,
       |    CASE WHEN ((doc_id * $SampleA + $SampleC) // 65536) % 100 < $TrainPct THEN 'train'
       |         WHEN ((doc_id * $SampleA + $SampleC) // 65536) % 100 < ${TrainPct + ValPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |per AS (
       |  SELECT digest,
       |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
       |    SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
       |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
       |  FROM d GROUP BY 1),
       |x AS (
       |  SELECT 'train' AS split, n_train AS own, n_val + n_test AS others FROM per
       |  UNION ALL SELECT 'val', n_val, n_train + n_test FROM per
       |  UNION ALL SELECT 'test', n_test, n_train + n_val FROM per)
       |SELECT split, COUNT(*) AS n_digests,
       |  CAST(SUM(own) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN others > 0 THEN own ELSE 0 END) AS BIGINT) AS n_leaked,
       |  round(CAST(SUM(CASE WHEN others > 0 THEN own ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(own) AS DOUBLE), 6) AS leak_rate
       |FROM x WHERE own > 0 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Provenance monitoring: per (source, lang) corpus composition —
    * the mix dashboards a training-data pipeline watches per ingest.
    * One shuffle on a tiny key space; DECIMAL-exact char average. */
  def sourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        // exact integer sum, then one IEEE divide — identical in DuckDB
        // (decimal AVG scale rules differ between engines)
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("source"), col("lang"))

  val sourceStatsSql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
      |  MIN(doc_id) AS min_doc_id
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  val TopTokens = 25

  /** Corpus vocabulary statistics: the TopTokens most frequent tokens
    * with occurrence and document frequencies. One explode + one
    * token-keyed shuffle; occurrence counts combine map-side. Document
    * frequency is exact countDistinct here (the oracle requires it);
    * at 100 TB swap in approx_count_distinct — same plan shape minus
    * the distinct expand. */
  def topkTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.Tokens.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(TopTokens)

  val topkTokensSql: String =
    s"""SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
       |FROM (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS token
       |  FROM documents)
       |GROUP BY token
       |ORDER BY n_occurrences DESC, token
       |LIMIT $TopTokens""".stripMargin

  /** HLL++ relative standard deviation for [[topkTokensApprox]] —
    * estimate error concentrates within a few rsd. */
  val ApproxDfRsd = 0.02

  /** [[topkTokens]] with document frequency via `approx_count_distinct`
    * — the swap the exact operator's scaladoc names for 100 TB made
    * real: HLL++ sketches merge map-side in ONE exchange of
    * sketch-sized partials, where countDistinct plans an expand +
    * second (token, doc_id)-grain aggregate. Occurrence counts (and
    * therefore the top-k row SET and order) stay exact — only n_docs
    * is estimated, with relative error ~[[ApproxDfRsd]]
    * (TopkTokensApproxSpec measures it against the exact operator).
    * Rows-gated: HLL internals are engine-specific, so the estimate
    * can't hash-match DuckDB by design. */
  def topkTokensApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.functions.Tokens.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        approx_count_distinct(col("doc_id"), ApproxDfRsd).as("n_docs_approx"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(TopTokens)

  val KmeansK = 8

  /** Distributed k-means, two unrolled Lloyd iterations over the
    * embeddings (seed centroids = the first K vectors — deterministic;
    * a trained run just iterates the same two stages):
    *  - E-step: assign each vector to its nearest centroid by squared
    *    Euclidean distance ‖x‖² − 2·x·c + ‖c‖², scored with the native
    *    [[graft.functions.VecDot]] fold against K broadcast centroids;
    *  - M-step: per-(cluster, dim) DECIMAL-exact means rounded to 6
    *    decimals (bit-stable under any partitioning), re-assembled
    *    into centroid arrays with a deterministic dim sort.
    * Plan shape at billion-vector scale: centroids always broadcast
    * (K × dim doubles), assignment is a map-side scoring pass + a
    * per-vector top-1 window, the M-step shuffles once on
    * (cluster, dim) — each iteration is two exchanges, no quadratic
    * term anywhere. Output: per-cluster membership after each
    * iteration, proving reassignment happened relationally. */
  def embKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (a1, a2) = kmeansAssignments(spark, dir)
    val c1 = a1.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_iter1"))
    val c2 = a2.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_iter2"))
    c1.join(c2, Seq("cluster_id"), "full_outer")
      .select(col("cluster_id"),
        coalesce(col("n_iter1"), lit(0L)).as("n_iter1"),
        coalesce(col("n_iter2"), lit(0L)).as("n_iter2"))
      .orderBy(col("cluster_id"))
  }

  /** The two unrolled Lloyd iterations behind [[embKmeans]] and
    * [[embClusterPurity]] — returns (iteration-1, iteration-2)
    * assignments at (vec_id, cluster_id) grain (plus the vector
    * columns on a1, which the M-step consumed). */
  private[pipeline] def kmeansAssignments(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.functions.VecDot.dot
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))

    def assign(points: DataFrame, cent: DataFrame): DataFrame =
      // per-point argmin as a map-side-combining aggregate: the
      // broadcast K-expansion collapses inside its input partition, so
      // the exchange carries n rows, not n·K (the row_number window
      // this replaces shuffled the full expansion). min(struct) ≡
      // ROW_NUMBER ordered by (dist2, cid) — ties to the lowest cid.
      points.join(broadcast(cent), lit(true))
        .withColumn("dist2", col("n2") - lit(2.0) * dot(col("v"), col("cv")) + col("cn2"))
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("n2")).as("n2"),
          min(struct(col("dist2"), col("cid"))).as("best"))
        .select(col("vec_id"), col("v"), col("n2"), col("best.cid").as("cluster_id"))

    val cent1 = vecs.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
    // The E-step output feeds the M-step, the per-cluster count AND
    // the next iteration's scoring pass — localCheckpoint (as in
    // dedup_clusters) materializes it once so each iteration is ONE
    // scan+score pass, not one per downstream reference, and iteration
    // 2 reads the checkpointed frame instead of re-scanning parquet.
    val a1 = assign(vecs, cent1).localCheckpoint()
    // M-step: exact means at (cluster, dim) grain, rounded, re-arrayed
    val cent2 = a1
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(27,12)")).cast("double") / count(lit(1)), 6).as("m"))
      .groupBy(col("cluster_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .select(col("cluster_id").as("cid"), col("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    val a2 = assign(a1.select(col("vec_id"), col("v"), col("n2")), cent2)
    (a1, a2)
  }

  /** Clustering quality vs the labeled ground truth — per-cluster
    * majority label and purity after the second Lloyd iteration (the
    * accuracy-evaluation twin of [[embKmeans]], same family as
    * ann_recall / dedup_minhash_accuracy / text_lang_confusion:
    * measure the unsupervised structure against labels, as a query).
    *
    * Scale: the per-(cluster, label) cells are a K×|labels| relation —
    * the majority window and the size rollup run over THAT tiny frame,
    * never over vectors; the only data-sized work is the assignment
    * passes [[embKmeans]] already does. */
  def embClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val (_, a2) = kmeansAssignments(spark, dir)
    val cells = a2
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("n").desc, col("label"))
    cells
      .withColumn("rn", row_number().over(w))
      .withColumn("n_vecs", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("n_vecs"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") / col("n_vecs").cast("double"), 6).as("purity"))
      .orderBy(col("cluster_id"))
  }

  /** The shared Lloyd-iteration CTE chain (vectors → seed centroids →
    * iteration-1 assignment → exact M-step → iteration-2 assignment) —
    * used by both the kmeans oracle and the cluster-purity oracle. */
  private[pipeline] lazy val kmeansCtes: String = {
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i])), (acc, x) -> acc + x)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |vecs AS (
       |  SELECT vec_id, v, ${dot("v", "v")} AS n2 FROM e),
       |cent1 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, v AS cv, n2 AS cn2 FROM vecs WHERE vec_id < $KmeansK),
       |a1 AS (
       |  SELECT vec_id, v, cid AS cluster_id FROM (
       |    SELECT x.vec_id, x.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.n2 - 2.0 * ${dot("x.v", "c.cv")} + c.cn2, c.cid) AS rn
       |    FROM vecs x CROSS JOIN cent1 c)
       |  WHERE rn = 1),
       |dims AS (
       |  SELECT cluster_id, i.i AS pos,
       |    round(CAST(SUM(CAST(v[i.i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM a1, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY cluster_id, i.i),
       |cent2 AS (
       |  SELECT cluster_id AS cid, list(m ORDER BY pos) AS cv
       |  FROM dims GROUP BY cluster_id),
       |cent2n AS (
       |  SELECT cid, cv, ${dot("cv", "cv")} AS cn2 FROM cent2),
       |a2 AS (
       |  SELECT vec_id, cid AS cluster_id FROM (
       |    SELECT x.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |        ORDER BY x.n2 - 2.0 * ${dot("x.v", "c.cv")} + c.cn2, c.cid) AS rn
       |    FROM vecs x CROSS JOIN cent2n c)
       |  WHERE rn = 1)""".stripMargin
  }

  lazy val embKmeansSql: String =
    s"""WITH $kmeansCtes,
       |c1 AS (SELECT cluster_id, COUNT(*) AS n_iter1 FROM a1 GROUP BY cluster_id),
       |c2 AS (SELECT cluster_id, COUNT(*) AS n_iter2 FROM a2 GROUP BY cluster_id)
       |SELECT COALESCE(c1.cluster_id, c2.cluster_id) AS cluster_id,
       |  COALESCE(n_iter1, 0) AS n_iter1, COALESCE(n_iter2, 0) AS n_iter2
       |FROM c1 FULL OUTER JOIN c2 ON c1.cluster_id = c2.cluster_id
       |ORDER BY cluster_id""".stripMargin

  lazy val embClusterPuritySql: String =
    s"""WITH $kmeansCtes,
       |cells AS (
       |  SELECT a2.cluster_id, emb.label, COUNT(*) AS n
       |  FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT cluster_id, label, n,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n DESC, label) AS rn,
       |    CAST(SUM(n) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_vecs
       |  FROM cells)
       |SELECT cluster_id, n_vecs, label AS majority_label, n AS n_majority,
       |  round(CAST(n AS DOUBLE) / CAST(n_vecs AS DOUBLE), 6) AS purity
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Per-label embedding centroids at (label, dimension) grain — the
    * M-step of distributed k-means / class-prototype computation.
    * posexplode fans each vector to its dimensions; one shuffle on
    * (label, dim); the DECIMAL sum makes the mean bit-stable under any
    * partitioning (double sums are not associative). */
  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("int").as("dim"),
        col("x").cast("double").cast("decimal(27,12)").as("xd"))
      .groupBy(col("label"), col("dim"))
      .agg(round(sum(col("xd")).cast("double") / count(lit(1)), 6).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("dim"))

  val embCentroidsSql: String =
    """SELECT label, CAST(i.i AS INT) AS dim,
      |  round(CAST(SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS centroid,
      |  COUNT(*) AS n_vecs
      |FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Per-DIMENSION moment report over the embedding table — mean,
    * variance, min, max for each of the d dimensions: the whitening /
    * feature-pruning / quantizer-calibration pre-step (a dead or
    * low-variance dimension wastes PQ codebook bits; [[embQuantize]]'s
    * per-dim ranges and [[Similarity.annPq]]'s subspaces both assume
    * someone looked at this first).
    *
    * Variance from exact DECIMAL power sums (Σx, Σx² — the q_zscore
    * rule: Welford/streaming variance is order-dependent in floating
    * point and can't hash-match). Scale: posexplode fans n·d rows into
    * a d-key aggregate — map-side partial combine, one exchange of
    * d-sized partials, nothing else. */
  def embDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x0")))
      .select((col("pos") + 1).cast("int").as("dim"), col("x0").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("x").cast("decimal(27,12)")).as("s1"),
        sum((col("x") * col("x")).cast("decimal(27,12)")).as("s2"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(col("dim"), col("n_vecs"),
        round(col("s1").cast("double") / col("n_vecs"), 6).as("mean"),
        round(col("s2").cast("double") / col("n_vecs")
          - (col("s1").cast("double") / col("n_vecs"))
          * (col("s1").cast("double") / col("n_vecs")), 6).as("variance"),
        round(col("mn"), 6).as("min_x"), round(col("mx"), 6).as("max_x"))
      .orderBy(col("dim"))

  val embDimStatsSql: String =
    """WITH cells AS (
      |  SELECT CAST(i.i AS INT) AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i),
      |s AS (
      |  SELECT dim, COUNT(*) AS n_vecs,
      |    SUM(CAST(x AS DECIMAL(27,12))) AS s1,
      |    SUM(CAST(x * x AS DECIMAL(27,12))) AS s2,
      |    MIN(x) AS mn, MAX(x) AS mx
      |  FROM cells GROUP BY 1)
      |SELECT dim, n_vecs,
      |  round(CAST(s1 AS DOUBLE) / n_vecs, 6) AS mean,
      |  round(CAST(s2 AS DOUBLE) / n_vecs
      |    - (CAST(s1 AS DOUBLE) / n_vecs) * (CAST(s1 AS DOUBLE) / n_vecs), 6) AS variance,
      |  round(mn, 6) AS min_x, round(mx, 6) AS max_x
      |FROM s ORDER BY dim""".stripMargin

  val SeqLen = 64    // tokens per packed training sequence
  val NumShards = 8  // independent packing streams

  /** Training-sequence packing — lay the tokenized corpus end-to-end
    * into fixed-[[SeqLen]] context windows and record where each doc
    * lands (shard, byte-analogue offset, sequence index). The packing
    * order is (shard, doc_id): deterministic, so re-runs and the
    * oracle agree row-for-row.
    *
    * Scale: a SINGLE global running sum would serialize the corpus
    * through one partition, and even a per-shard
    * `Window.partitionBy(shard)` puts a whole shard's token stream in
    * ONE task (shards are few-valued by design). The running sum is
    * instead the two-phase range-partitioned prefix sum of
    * [[graft.functions.DistributedRanks.withGroupPrefixSum]] — every
    * task holds a bounded (shard, range-slice), so ANY shard count
    * works, including NumShards ≪ cores. Shards still map to the
    * output-writer pool. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOn(Tables.spread(Tables.documents(spark, dir)))

  private[pipeline] def packSequencesOn(d: DataFrame): DataFrame = {
    val toks = d
      .select(col("doc_id"),
        size(graft.functions.Tokens.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("shard", (col("doc_id") % NumShards).cast("int"))
    graft.functions.DistributedRanks
      .withGroupPrefixSum(toks, "shard", Seq(col("doc_id")), col("n_tokens"), "run_sum")
      .withColumn("start_offset", col("run_sum") - col("n_tokens"))
      .withColumn("seq_idx", (col("start_offset") / SeqLen).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_offset"), col("seq_idx"))
      .orderBy(col("doc_id"))
  }

  val packSequencesSql: String =
    s"""SELECT doc_id, CAST(doc_id % $NumShards AS INT) AS shard, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY doc_id % $NumShards ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset,
       |  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY doc_id % $NumShards ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / $SeqLen) AS BIGINT) AS seq_idx
       |FROM (
       |  SELECT doc_id, CAST(len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  val MixScale = 65536L

  /** Temperature-0.5 mixture resampling — downsample each source
    * toward sqrt-scaled proportions (the multilingual-corpus mixing
    * rule: keep probability sqrt(n_min/n_s), so dominant sources
    * shrink and rare sources are kept whole). The keep decision is the
    * same stable LCG bucket as [[sample]] — appends and re-runs keep
    * the same docs.
    *
    * Scale: per-source counts are a tiny aggregate (the source key
    * space is a provenance registry, not data-sized); joined back
    * without a mandatory hint — AQE broadcasts the small side. The
    * corpus pass itself is map-only + one tiny-key count. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(spark, dir))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    val withMin = counts.crossJoin(counts.agg(min(col("n_orig")).as("n_min")))
      .withColumn("threshold",
        floor(lit(MixScale.toDouble) * sqrt(col("n_min").cast("double") / col("n_orig").cast("double"))))
    d.join(withMin, "source")
      .withColumn("bucket", expr(s"((doc_id * $SampleA + $SampleC) div 65536) % $MixScale"))
      .groupBy(col("source"))
      .agg(max(col("n_orig")).as("n_orig"),
        sum(when(col("bucket") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        max(col("threshold")).cast("bigint").as("threshold"))
      .orderBy(col("source"))
  }

  val mixTemperatureSql: String =
    s"""WITH counts AS (
       |  SELECT source, COUNT(*) AS n_orig FROM documents GROUP BY source),
       |thresholds AS (
       |  SELECT source, n_orig,
       |    FLOOR($MixScale.0 * sqrt(CAST((SELECT MIN(n_orig) FROM counts) AS DOUBLE) / CAST(n_orig AS DOUBLE))) AS threshold
       |  FROM counts)
       |SELECT d.source, MAX(t.n_orig) AS n_orig,
       |  CAST(SUM(CASE WHEN ((d.doc_id * $SampleA + $SampleC) // 65536) % $MixScale < t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(MAX(t.threshold) AS BIGINT) AS threshold
       |FROM documents d JOIN thresholds t ON d.source = t.source
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** Source-interleaved training order — the curriculum pass that
    * round-robins sources so no contiguous run of one source dominates
    * a training window. Each doc gets a deterministic shuffled rank
    * WITHIN its source (the [[sample]] LCG, doc_id ties), and the
    * global order key is computed ARITHMETICALLY:
    * (rank-1) × n_sources + source_index. No global window anywhere —
    * a single ROW_NUMBER over the corpus would serialize 100 TB
    * through one task; the arithmetic key gives the same round-robin
    * order (holes where a source exhausts are harmless: ordering, not
    * addressing). Per-source ranks are one shuffle on source. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.spread(Tables.documents(spark, dir))
      .withColumn("bucket", expr(s"((doc_id * $SampleA + $SampleC) div 65536) % $MixScale"))
    // source registry: tiny (provenance key space), so the single-
    // partition rank window and the broadcast back are both safe
    val sources = d.select(col("source")).distinct()
      .withColumn("source_idx",
        row_number().over(Window.orderBy(col("source"))).cast("bigint") - 1)
    val nSources = sources.select(count(lit(1)).as("n_sources"))
    // per-source ranks via DistributedRanks: a source-partitioned
    // window would pin a whole source's docs in one task
    val ranked = graft.functions.DistributedRanks
      .withGroupRanks(d, "source", Seq(col("bucket"), col("doc_id")))
    ranked.join(sources, "source").crossJoin(nSources)
      .withColumn("rank_in_source", col("rn").cast("bigint"))
      .withColumn("interleave_key",
        (col("rank_in_source") - 1) * col("n_sources") + col("source_idx"))
      .select(col("doc_id"), col("source"), col("rank_in_source"), col("interleave_key"))
      .orderBy(col("interleave_key"))
  }

  val interleaveSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, ((doc_id * $SampleA + $SampleC) // 65536) % $MixScale AS bucket
       |  FROM documents),
       |sources AS (
       |  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS source_idx
       |  FROM (SELECT DISTINCT source FROM d)),
       |n AS (SELECT COUNT(*) AS n_sources FROM sources),
       |ranked AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.bucket, d.doc_id) AS BIGINT) AS rank_in_source,
       |    s.source_idx
       |  FROM d JOIN sources s ON d.source = s.source)
       |SELECT doc_id, source, rank_in_source,
       |  (rank_in_source - 1) * n.n_sources + source_idx AS interleave_key
       |FROM ranked CROSS JOIN n
       |ORDER BY interleave_key""".stripMargin

  /** Scalar int8 quantization of the embedding column — the standard
    * memory-4× ANN-index prep (per-dimension affine map onto 0..255).
    * Two passes: a (dim)-grain min/max aggregate (64 rows — broadcasts
    * trivially), then a map-only quantize pass. Output: a per-vector
    * integrity row (position-weighted checksum + the saturated-end
    * counts), which pins every quantized byte without emitting 64
    * columns.
    *
    * floor (not round) on purpose: both engines evaluate the identical
    * double expression tree, and floor has no half-way tie whose
    * rounding mode could differ. */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("xd"))
      .groupBy(col("dim"))
      .agg(min(col("xd")).as("mn"), max(col("xd")).as("mx"))
    Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("x").cast("double").as("xd"))
      .join(dims, "dim")
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor((col("xd") - col("mn")) * 255.0 / (col("mx") - col("mn")))))
      .groupBy(col("vec_id"))
      .agg(sum(col("q") * col("dim")).as("checksum"),
        sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_floor"),
        sum(when(col("q") >= 255, 1L).otherwise(0L)).as("n_ceil"))
      .orderBy(col("vec_id"))
  }

  val embQuantizeSql: String =
    """WITH vals AS (
      |  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS xd
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i),
      |dims AS (
      |  SELECT dim, MIN(xd) AS mn, MAX(xd) AS mx FROM vals GROUP BY dim),
      |q AS (
      |  SELECT vec_id, v.dim,
      |    CASE WHEN d.mx = d.mn THEN 0 ELSE FLOOR((v.xd - d.mn) * 255.0 / (d.mx - d.mn)) END AS q
      |  FROM vals v JOIN dims d ON v.dim = d.dim)
      |SELECT vec_id, CAST(SUM(q * dim) AS BIGINT) AS checksum,
      |  CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_floor,
      |  CAST(SUM(CASE WHEN q >= 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_ceil
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Bit widths [[embQuantizeSweep]] evaluates. */
  val QuantizeSweepBits = Seq(2, 4, 8)

  /** SCALAR-QUANTIZATION TUNING CURVE — reconstruction error vs bit
    * width (the ann_recall/band_sweep pattern applied to embedding
    * compression): per-dim min/max uniform quantizer at 2^b cells,
    * midpoint reconstruction, for b ∈ [[QuantizeSweepBits]] in ONE
    * pass — the (vec, dim) explode joins the tiny per-dim range
    * relation, fans ×|bits| map-side, and collapses to |bits| rows
    * with map-side combine. Per-value squared errors round-trip
    * through DECIMAL so the sum is order-independent (the doc'd
    * bit-stability rule); the curve answers "how many bits does this
    * corpus actually need" before an emb_quantize deployment. */
  def embQuantizeSweep(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("x").cast("double").as("xd"))
    val dims = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("xd"))
      .groupBy(col("dim"))
      .agg(min(col("xd")).as("mn"), max(col("xd")).as("mx"))
    val bits = {
      import spark.implicits._
      QuantizeSweepBits.map(b => (b, (1L << b).toDouble)).toDF("bits", "cells")
    }
    vals.join(dims, "dim")
      .crossJoin(broadcast(bits))
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0.0d))
          .otherwise(least(
            floor((col("xd") - col("mn")) * col("cells") / (col("mx") - col("mn"))),
            col("cells") - lit(1.0d))))
      .withColumn("xr",
        col("mn") + (col("q") + lit(0.5d)) * (col("mx") - col("mn")) / col("cells"))
      .withColumn("err", col("xd") - col("xr"))
      .groupBy(col("bits"))
      .agg(count(lit(1)).as("n_vals"),
        round(sum((col("err") * col("err")).cast("decimal(27,12)")).cast("double"), 6)
          .as("sse"),
        sum(when(col("q") === col("cells") - lit(1.0d), 1L).otherwise(0L)).as("n_top_cell"))
      .orderBy(col("bits"))
  }

  val embQuantizeSweepSql: String = {
    val bitsValues = QuantizeSweepBits
      .map(b => s"($b, CAST(${1L << b} AS DOUBLE))").mkString(", ")
    s"""WITH vals AS (
       |  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS xd
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i),
       |dims AS (
       |  SELECT dim, MIN(xd) AS mn, MAX(xd) AS mx FROM vals GROUP BY dim),
       |b(bits, cells) AS (VALUES $bitsValues),
       |q AS (
       |  SELECT v.vec_id, b.bits, b.cells, v.xd, d.mn, d.mx,
       |    CASE WHEN d.mx = d.mn THEN CAST(0.0 AS DOUBLE)
       |         ELSE least(FLOOR((v.xd - d.mn) * b.cells / (d.mx - d.mn)),
       |                    b.cells - CAST(1.0 AS DOUBLE)) END AS q
       |  FROM vals v JOIN dims d ON v.dim = d.dim CROSS JOIN b),
       |e AS (
       |  SELECT bits, cells, q,
       |    xd - (mn + (q + CAST(0.5 AS DOUBLE)) * (mx - mn) / cells) AS err
       |  FROM q)
       |SELECT bits, COUNT(*) AS n_vals,
       |  round(CAST(SUM(CAST(err * err AS DECIMAL(27,12))) AS DOUBLE), 6) AS sse,
       |  CAST(SUM(CASE WHEN q = cells - CAST(1.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_top_cell
       |FROM e GROUP BY bits ORDER BY bits""".stripMargin
  }

  /** EMBEDDING DRIFT MONITOR — per-label centroid shift between two
    * ingest batches (here the deterministic vec_id parity split as
    * reference vs current): ‖c_ref − c_cur‖² and the centroid cosine,
    * the model-ops alarm for "did the embedding distribution move
    * between snapshots" (re-train / re-index trigger). Per-dim means
    * from DECIMAL-exact sums, ROUNDED FIRST so both engines compose
    * the same doubles; the cross-dim sums (shift², dot, norms) each
    * round-trip through DECIMAL — order-independent (the doc'd
    * bit-stability rule). Scale: one (label, dim)-grain aggregate with
    * map-side combine (labels·dims rows), then a label-grain rollup —
    * the corpus is read once, nothing wider than d·|labels| shuffles. */
  def embCentroidShift(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
        col("x").cast("double").cast("decimal(27,12)").as("xd"))
    val cent = vals.groupBy(col("label"), col("dim"))
      .agg(
        round(sum(when(col("vec_id") % 2 === 0, col("xd"))).cast("double") /
          sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)), 6).as("m_ref"),
        round(sum(when(col("vec_id") % 2 === 1, col("xd"))).cast("double") /
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)), 6).as("m_cur"),
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_cur"))
    cent.groupBy(col("label"))
      .agg(min(col("n_ref")).as("n_ref"), min(col("n_cur")).as("n_cur"),
        round(sum(((col("m_ref") - col("m_cur")) * (col("m_ref") - col("m_cur")))
          .cast("decimal(27,12)")).cast("double"), 6).as("shift2"),
        round(sum((col("m_ref") * col("m_cur")).cast("decimal(27,12)")).cast("double") /
          (sqrt(sum((col("m_ref") * col("m_ref")).cast("decimal(27,12)")).cast("double")) *
           sqrt(sum((col("m_cur") * col("m_cur")).cast("decimal(27,12)")).cast("double"))), 6)
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  val embCentroidShiftSql: String =
    """WITH vals AS (
      |  SELECT vec_id, label, i.i AS dim,
      |    CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(27,12)) AS xd
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i),
      |cent AS (
      |  SELECT label, dim,
      |    round(CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN xd END) AS DOUBLE) /
      |      SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END), 6) AS m_ref,
      |    round(CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN xd END) AS DOUBLE) /
      |      SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END), 6) AS m_cur,
      |    SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
      |    SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
      |  FROM vals GROUP BY 1, 2)
      |SELECT label, CAST(MIN(n_ref) AS BIGINT) AS n_ref, CAST(MIN(n_cur) AS BIGINT) AS n_cur,
      |  round(CAST(SUM(CAST((m_ref - m_cur) * (m_ref - m_cur) AS DECIMAL(27,12))) AS DOUBLE), 6) AS shift2,
      |  round(CAST(SUM(CAST(m_ref * m_cur AS DECIMAL(27,12))) AS DOUBLE) /
      |    (sqrt(CAST(SUM(CAST(m_ref * m_ref AS DECIMAL(27,12))) AS DOUBLE)) *
      |     sqrt(CAST(SUM(CAST(m_cur * m_cur AS DECIMAL(27,12))) AS DOUBLE))), 6) AS centroid_cos
      |FROM cent GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------------ outliers

  val OutliersPerLabel = 5

  /** Embedding outlier triage — the farthest-from-centroid vectors per
    * label (mislabeled / corrupt / off-distribution points, the triage
    * pass before centroids or ANN indexes are trusted). Rank-based on
    * purpose: a z-score cut needs a variance, and double variance is
    * partition-order-dependent — ranks only compare identical
    * expression values, so they are exactly engine-stable.
    *
    * Scale: (label, dim)-grain DECIMAL-exact centroid aggregate (tiny
    * — labels × dims rows), broadcast back, map-side ‖x−c‖² scoring
    * via the native [[graft.functions.VecDot]], one per-label top-N
    * window. */
  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot.dot
    import org.apache.spark.sql.expressions.Window
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val cent = vecs
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(27,12)")).cast("double") / count(lit(1)), 6).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    // two-stage top-N: the global top-N of a label is contained in
    // the union of its per-input-partition top-Ns (true for ANY row
    // placement), so prune to ≤ N×partitions candidates in bounded
    // (label, pid) windows first — a label-partitioned window over
    // the full data would pin each label's vectors in one task
    val scored = vecs.join(broadcast(cent), Seq("label"))
      .withColumn("dist2", col("n2") - lit(2.0) * dot(col("v"), col("cv")) + col("cn2"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("label"), col("pid"))
      .orderBy(col("dist2").desc, col("vec_id"))
    val w = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id"))
    scored
      .withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= OutliersPerLabel)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= OutliersPerLabel)
      .select(col("label"), col("rank"), col("vec_id"), round(col("dist2"), 6).as("dist2"))
      .orderBy(col("label"), col("rank"))
  }

  val embOutliersSql: String = {
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i])), (acc, x) -> acc + x)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |vecs AS (
       |  SELECT vec_id, label, v, ${dot("v", "v")} AS n2 FROM e),
       |dims AS (
       |  SELECT label, i.i AS pos,
       |    round(CAST(SUM(CAST(v[i.i] AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM vecs, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY label, i.i),
       |cent AS (
       |  SELECT label, list(m ORDER BY pos) AS cv FROM dims GROUP BY label),
       |centn AS (
       |  SELECT label, cv, ${dot("cv", "cv")} AS cn2 FROM cent),
       |scored AS (
       |  SELECT x.label, x.vec_id,
       |    x.n2 - 2.0 * ${dot("x.v", "c.cv")} + c.cn2 AS dist2
       |  FROM vecs x JOIN centn c ON x.label = c.label),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT label, rank, vec_id, round(dist2, 6) AS dist2
       |FROM ranked WHERE rank <= $OutliersPerLabel
       |ORDER BY label, rank""".stripMargin
  }

  // ------------------------------------------------------------ shard balance

  val BalanceShards = 8

  /** Size-balanced output sharding — the writer-balance problem every
    * 100 TB corpus dump has: equal DOC counts per output file still
    * skew bytes badly when doc sizes do. Round-robin by per-source
    * size rank (docs ranked by n_chars desc inside their source, shard
    * = rank mod S) deals every source's large docs evenly across
    * shards — the streaming-friendly cousin of LPT bin packing, with
    * NO global window anywhere (ranks are per-source partitions, the
    * corpus_interleave lesson). Output: per-shard byte/doc totals +
    * the spread stats you'd alarm on.
    *
    * Scale: one shuffle on source for the rank windows, one tiny
    * (S-row) aggregate. The assignment column itself is what a writer
    * would partition the dump by. */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    // per-source size ranks via DistributedRanks (a source-partitioned
    // window would pin a whole source's docs in one task)
    graft.functions.DistributedRanks.withGroupRanks(
        Tables.spread(Tables.documents(spark, dir)),
        "source", Seq(col("n_chars").desc, col("doc_id")))
      .withColumn("shard", ((col("rn") - 1) % BalanceShards).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("shard"))
  }

  val shardBalanceSql: String =
    s"""WITH assigned AS (
       |  SELECT doc_id, n_chars,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) - 1) % $BalanceShards AS INT) AS shard
       |  FROM documents)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(n_chars) AS min_chars,
       |  MAX(n_chars) AS max_chars
       |FROM assigned GROUP BY 1 ORDER BY shard""".stripMargin

  /** Shard-write report for [[writeShards]]. */
  final case class ShardWriteReport(nShards: Long, nDocs: Long,
      minShardChars: Long, maxShardChars: Long, filesWritten: Long)

  /** WRITE the size-balanced shards [[shardBalance]] plans — the
    * operational half of the 100 TB writer-balance story: the same
    * per-source round-robin-by-size assignment, then ONE shard-keyed
    * repartition so each shard's docs land in exactly one task, and a
    * `partitionBy(shard)` parquet commit (one file per shard — a
    * downstream trainer streams shard directories of near-equal char
    * mass instead of hot-spotting on one fat file). Returns the
    * balance report read back from the WRITTEN files, so the spec
    * gates the artifact, not the plan. */
  def writeShards(docs: DataFrame, path: String, nShards: Int = BalanceShards): ShardWriteReport = {
    val spark = docs.sparkSession
    val assigned = graft.functions.DistributedRanks.withGroupRanks(
        docs, "source", Seq(col("n_chars").desc, col("doc_id")))
      .withColumn("shard", ((col("rn") - 1) % nShards).cast("int"))
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"), col("shard"))
    assigned.repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    val stats = back.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .agg(count(lit(1)).as("n_shards"), sum(col("n")).as("n_docs"),
        min(col("chars")).as("mn"), max(col("chars")).as("mx"))
      .head()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    var files = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) files += 1
    ShardWriteReport(stats.getLong(0), stats.getLong(1), stats.getLong(2),
      stats.getLong(3), files)
  }

  /** Token budget the [[epochPlan]] allocates. */
  val EpochBudgetTokens = 200000L

  /** EPOCH PLAN — per-source repeat factors under a fixed token
    * budget: temperature weights (α = 0.5, the sqrt flattening
    * mix_temperature resamples BY) allocate the budget across
    * sources, and `epochs = allocation / source_tokens` says how many
    * times each source repeats in one training run (> 1 = the source
    * is up-sampled and will repeat; the repeated-data accounting a
    * mixing decision needs BEFORE launching, complementing
    * mix_temperature's doc-level resample and select_budget's
    * doc-level cut). Per-source sqrt weights round-trip through
    * DECIMAL so the denominator is order-independent; one
    * source-grain aggregate + a broadcast 1-row total. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.functions.Tokens.tokens(col("text"))).as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("t"))
      .withColumn("st", sqrt(col("t").cast("double")).cast("decimal(27,12)"))
    val denom = src.agg(sum(col("st")).as("sum_st"))
      .select(col("sum_st").cast("double").as("denom"))
    val w = col("st").cast("double") / col("denom")
    src.crossJoin(broadcast(denom))
      .select(col("source"), col("t").as("n_tokens"),
        round(w, 12).as("weight"),
        round(lit(EpochBudgetTokens.toDouble) * w, 6).as("alloc_tokens"),
        round(lit(EpochBudgetTokens.toDouble) * w / col("t"), 6).as("epochs"))
      .orderBy(col("source"))
  }

  val epochPlanSql: String =
    s"""WITH tok AS (
       |  SELECT source, len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS nt
       |  FROM documents),
       |src AS (
       |  SELECT source, CAST(SUM(nt) AS BIGINT) AS t,
       |    CAST(sqrt(CAST(SUM(nt) AS DOUBLE)) AS DECIMAL(27,12)) AS st
       |  FROM tok GROUP BY 1),
       |d AS (SELECT CAST(SUM(st) AS DOUBLE) AS denom FROM src)
       |SELECT source, t AS n_tokens,
       |  round(CAST(st AS DOUBLE) / d.denom, 12) AS weight,
       |  round(CAST($EpochBudgetTokens AS DOUBLE) * (CAST(st AS DOUBLE) / d.denom), 6) AS alloc_tokens,
       |  round(CAST($EpochBudgetTokens AS DOUBLE) * (CAST(st AS DOUBLE) / d.denom) / t, 6) AS epochs
       |FROM src CROSS JOIN d ORDER BY source""".stripMargin

  /** SOURCE-OVERLAP MATRIX — pairwise word-shingle Jaccard between
    * ingest sources (which feeds duplicate each other: two mirrors of
    * the same crawl show up here long before doc-level dedup runs).
    * The grain is (source, shingle) DISTINCT — per-shingle fan-out is
    * bounded by the SOURCE count (≤ |sources| rows per shingle, so
    * the self-join expands to at most |sources|²/2 pairs per shingle,
    * never doc²; no df-cap needed at any corpus size). One vocab-grain
    * shuffle + one bounded pair aggregate; |sources|² output rows. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = Tables.spread(Tables.documents(spark, dir))
      .withColumn("toks", graft.functions.Tokens.tokens(col("text")))
      .filter(size(col("toks")) >= Dedup.ShingleWords)
      .select(col("source"), explode_outer(Dedup.wordShingles(col("toks"))).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()
      .localCheckpoint() // feeds both the sizes and the pair join
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
    val shared = ss.as("a").join(ss.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_1"), col("b.source").as("source_2"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("source").as("source_1"), col("n_shingles").as("n_1")), Seq("source_1"))
      .join(sizes.select(col("source").as("source_2"), col("n_shingles").as("n_2")), Seq("source_2"))
      .select(col("source_1"), col("source_2"), col("n_shared"), col("n_1"), col("n_2"),
        round(col("n_shared").cast("double") /
          (col("n_1") + col("n_2") - col("n_shared")).cast("double"), 6).as("jaccard"))
      .orderBy(col("source_1"), col("source_2"))
  }

  val sourceOverlapSql: String =
    s"""WITH d AS (
       |  SELECT source, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
       |  FROM documents),
       |ss AS (
       |  SELECT DISTINCT source, shingle FROM (
       |    SELECT source,
       |      unnest(list_distinct(list_transform(
       |        generate_series(1, len(toks) - ${Dedup.ShingleWords - 1}),
       |        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))) AS shingle
       |    FROM d WHERE len(toks) >= ${Dedup.ShingleWords})),
       |sizes AS (SELECT source, COUNT(*) AS n_shingles FROM ss GROUP BY 1),
       |shared AS (
       |  SELECT a.source AS source_1, b.source AS source_2, COUNT(*) AS n_shared
       |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT s.source_1, s.source_2, s.n_shared,
       |  s1.n_shingles AS n_1, s2.n_shingles AS n_2,
       |  round(CAST(s.n_shared AS DOUBLE) /
       |    CAST(s1.n_shingles + s2.n_shingles - s.n_shared AS DOUBLE), 6) AS jaccard
       |FROM shared s
       |JOIN sizes s1 ON s.source_1 = s1.source
       |JOIN sizes s2 ON s.source_2 = s2.source
       |ORDER BY s.source_1, s.source_2""".stripMargin

  // ------------------------------------------------------------ vocab growth

  /** Docs per vocabulary-growth bucket. */
  val VocabBucketDocs = 50L

  /** Vocabulary growth curve (the Heaps'-law check every corpus build
    * plots): new distinct BIGRAM types per [[VocabBucketDocs]]-doc
    * ingest bucket, plus the cumulative vocabulary size. A corpus
    * whose curve flattens too fast is repetitive; one that never
    * flattens is noise — either way this is the first diagnostic
    * before tokenizer training. Types are word bigrams: the unigram
    * vocabulary saturates in the first bucket on any bounded-lexicon
    * corpus, while the combinatorial n-gram space keeps producing new
    * types — same curve a subword tokenizer's merge table grows on.
    *
    * Scale: a type's first sighting is min(doc_id) — one type-keyed
    * shuffle with map-side combine (the wordcount shape), then the
    * bucket aggregation and cumulative window run over the TINY bucket
    * relation (corpus/[[VocabBucketDocs]] rows), so the
    * single-partition cumulative window costs nothing corpus-sized. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.Tokens.tokens(col("text")).as("toks"))
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val firstSeen = toked
      .select(col("doc_id"), explode_outer(bigrams).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("bigram"))
      .agg(min(col("doc_id")).as("first_doc"))
    val buckets = firstSeen
      .withColumn("bucket", col("first_doc") - (col("first_doc") % VocabBucketDocs))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    buckets
      .withColumn("cum_types",
        sum(col("n_new_types")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       |  FROM d),
       |first_seen AS (
       |  SELECT bigram, MIN(doc_id) AS first_doc FROM tok GROUP BY 1),
       |buckets AS (
       |  SELECT first_doc - (first_doc % $VocabBucketDocs) AS bucket, COUNT(*) AS n_new_types
       |  FROM first_seen GROUP BY 1)
       |SELECT bucket, n_new_types,
       |  CAST(SUM(n_new_types) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
       |FROM buckets ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------ #28w end-to-end clean report

  /** THE END-TO-END CLEANING PIPELINE rolled up in one call — what a
    * corpus owner runs before training: dedup keeplist (exact + near
    * verdicts) ∧ quality filter, with duplicated-span removal
    * ([[Dedup.spanRewrite]]) accounted on the survivors, reported per
    * source — docs in, drop reasons staged (dedup takes precedence,
    * matching each stage's own reason codes), and the CLEAN token
    * mass that actually reaches the tokenizer.
    *
    * Scale: three document-grain pipelines (each keeping its own
    * documented shuffle shape) meet on doc_id equi-joins — no frame
    * carries a presentation sort into the join (the keeplistFrame
    * rule); the rollup is a \|sources\|-key aggregate with map-side
    * combine and one final sort over \|sources\| rows. */
  def cleanStats(spark: SparkSession, dir: String): DataFrame = {
    // The three verdict pipelines are INDEPENDENT until the doc_id
    // join, but two of them materialize eager intermediates while
    // they are being COMPOSED (keeplist's connected-components
    // fixpoint, spanRewrite's span checkpoint) — built sequentially
    // those eager jobs serialize on the driver. Compose them on a
    // small thread pool instead (guide §2.6: overlap independent
    // jobs); each frame is deterministic, so results are unchanged.
    val d = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"))
    val Seq(dd, qq, sp) = graft.Concurrently(spark)(Seq(
      () => Dedup.keeplistFrame(spark, dir)
        .select(col("doc_id"), col("keep").as("dedup_keep")),
      () => TextAnalysis.qualityFilterFrame(spark, dir)
        .select(col("doc_id"), col("keep").as("quality_keep")),
      () => Dedup.spanRewriteFrame(Tables.spread(Tables.documents(spark, dir)))
        .select(col("doc_id"), col("n_tokens"), col("n_removed"))))
    d.join(dd, Seq("doc_id")).join(qq, Seq("doc_id")).join(sp, Seq("doc_id"))
      .withColumn("final_keep", col("dedup_keep") && col("quality_keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("dedup_keep"), 1L).otherwise(0L)).as("n_dropped_dedup"),
        sum(when(col("dedup_keep") && !col("quality_keep"), 1L).otherwise(0L))
          .as("n_dropped_quality"),
        sum(when(col("final_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("final_keep"), col("n_tokens") - col("n_removed")).otherwise(0L))
          .as("clean_tokens"),
        sum(when(col("final_keep"), col("n_removed")).otherwise(0L))
          .as("spans_removed_tokens"))
      .orderBy(col("source"))
  }

  lazy val cleanStatsSql: String =
    s"""WITH k AS (${Dedup.keeplistSql}),
       |q AS (${graft.pipeline.TextAnalysis.qualityFilterSql}),
       |s AS (${Dedup.spanRewriteSql}),
       |d AS (SELECT doc_id, source FROM documents)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_dedup,
       |  CAST(SUM(CASE WHEN k.keep AND NOT q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_quality,
       |  CAST(SUM(CASE WHEN k.keep AND q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN k.keep AND q.keep THEN s.n_tokens - s.n_removed ELSE 0 END) AS BIGINT) AS clean_tokens,
       |  CAST(SUM(CASE WHEN k.keep AND q.keep THEN s.n_removed ELSE 0 END) AS BIGINT) AS spans_removed_tokens
       |FROM d
       |JOIN k ON d.doc_id = k.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |JOIN s ON d.doc_id = s.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------------------------------------------ #28u BPE merge training

  val BpeMerges = 8 // unrolled merge iterations (Sennrich et al. 2016 run ~10k; shape identical)

  /** BPE merge-pair training — the tokenizer-training primitive
    * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    * with Subword Units"): [[BpeMerges]] iterations of count-adjacent-
    * symbol-pairs → merge the most frequent pair everywhere. Emits the
    * learned merge table `(step, left_sym, right_sym, merged,
    * pair_count)` — the artifact a tokenizer ships.
    *
    * Determinism: words are the lowercased `[a-z0-9]+` runs (so the
    * `<sym>` delimiters can never collide with symbol text); pair
    * counts weight by word frequency and count every adjacent
    * position; ties break lexically on (left, right). Merging rewrites
    * the delimited encoding with a literal `replace` — left-to-right,
    * non-overlapping, the exact merge order a sequential BPE applies
    * (both engines' `replace` resumes AFTER the spliced region).
    *
    * Scale: everything after the first shuffle runs on the UNIQUE-WORD
    * vocabulary, not the corpus — the per-iteration cost is one pair
    * explode over vocab symbol arrays (Σ word lengths), one
    * (pair)-keyed count shuffle with map-side combine, and a top-1 via
    * orderBy+limit (TakeOrdered — no global sort shuffle); the 1-row
    * winner broadcasts into the rewrite (the kmeans-unroll pattern at
    * [[embKmeans]], applied to tokenizer state). The vocab frame is
    * localCheckpointed per iteration so the unrolled plan stays flat.
    * If the vocabulary exhausts its pairs early the remaining steps
    * emit nothing (shorter merge table), identically in both engines. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOn(Tables.spread(Tables.documents(spark, dir)))

  private[pipeline] def bpeMergesOn(d: DataFrame): DataFrame =
    bpePipeline(d)._1

  /** Shared BPE pipeline: (merge table, final encoded vocabulary). */
  private def bpePipeline(d: DataFrame): (DataFrame, DataFrame) = {
    var words = d
      .select(explode_outer(filter(
        split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " "),
        t => length(t) > 0)).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      // "low" → "<l><o><w>": every symbol fully bracketed, so a merge
      // pattern can never match across symbol boundaries. `word` rides
      // along so bpeEncode can join the final encoding back to docs.
      .select(col("word"), col("wc"),
        regexp_replace(col("word"), "(.)", "<$1>").as("enc"))
      .localCheckpoint()
    val steps = (1 to BpeMerges).map { step =>
      val pairs = words
        .select(col("wc"),
          split(regexp_replace(col("enc"), "^<|>$", ""), "><").as("syms"))
        .withColumn("l", slice(col("syms"), lit(1), size(col("syms")) - 1))
        .withColumn("r", slice(col("syms"), lit(2), size(col("syms")) - 1))
        .select(col("wc"), explode(arrays_zip(col("l"), col("r"))).as("p"))
        .groupBy(col("p.l").as("pa"), col("p.r").as("pb"))
        .agg(sum(col("wc")).as("cnt"))
      val top = pairs
        .orderBy(col("cnt").desc, col("pa"), col("pb")).limit(1)
        .select(lit(step).as("step"), col("pa").as("left_sym"),
          col("pb").as("right_sym"), concat(col("pa"), col("pb")).as("merged"),
          col("cnt").as("pair_count"))
        .localCheckpoint()
      words = words
        .crossJoin(broadcast(top.select(col("left_sym"), col("right_sym"))))
        .select(col("word"), col("wc"), replace(col("enc"),
          concat(lit("<"), col("left_sym"), lit("><"), col("right_sym"), lit(">")),
          concat(lit("<"), col("left_sym"), col("right_sym"), lit(">"))).as("enc"))
        .localCheckpoint()
      top
    }
    (steps.reduce(_ union _).orderBy(col("step")), words)
  }

  /** BATCHED BPE merge training (round-8 verdict directive #6) — the
    * compromise that makes the tokenizer-training primitive usable at
    * REAL merge counts: [[bpeMerges]]' per-iteration shape is right
    * (vocab-sized work, one pair-keyed shuffle), but one merge per
    * Spark job means a production 10k-50k-merge run is tens of
    * thousands of SEQUENTIAL jobs. Here each iteration applies the
    * top-`batchM` NON-CONFLICTING merges at once
    * ([[pickDisjointMerges]]): candidates are taken in
    * (count desc, pair) order, and a pair (a, b) is kept only if none
    * of a, b NOR ITS MERGED SYMBOL a+b was claimed — as constituent
    * or as merged output — by an earlier-kept pair this round. The
    * merged-symbol claim matters: keeping (ab, cd) and (abcd, e)
    * together would let the first replace CREATE <abcd> adjacencies
    * mid-batch that the second then merges (or misses, depending on
    * order), breaking order-independence. With the full three-symbol
    * claim sets pairwise disjoint, merges cannot interact — no text
    * position belongs to two of them, collapsing <a><b> elsewhere can
    * never create or destroy a <c><d> adjacency, and no replace's
    * OUTPUT token is another's INPUT token — so their within-batch
    * counts stay exact and the rewrite is order-independent (applied
    * as one nested-replace projection, a single vocab pass). 10k
    * merges become ~10k/M iterations.
    *
    * `batchM = 1` reproduces [[bpeMerges]]' sequential merge table
    * EXACTLY (same top-1 selection, same tie-break, same rewrite) —
    * spec-asserted (BpeBatchedSpec), which keeps this variant pinned
    * to the oracle'd path. The candidate pool collect is ≤ 4·M rows
    * of pair metadata per round (the sanctioned K-row-metadata
    * collect class — centroids/codebooks); everything corpus-sized
    * stays distributed.
    *
    * Output: (step, iteration, left_sym, right_sym, merged,
    * pair_count) — step is the global merge ordinal (batch rank
    * within iteration), pair_count the exact pre-batch count. */
  def bpeMergesBatched(spark: SparkSession, dir: String,
      iters: Int = BpeMerges, batchM: Int = 1): DataFrame =
    bpeMergesBatchedOn(Tables.spread(Tables.documents(spark, dir)), iters, batchM)

  private[pipeline] def bpeMergesBatchedOn(d: DataFrame, iters: Int,
      batchM: Int): DataFrame = {
    require(batchM >= 1 && iters >= 1, s"bad BPE batch config ($iters, $batchM)")
    val sp = d.sparkSession
    var words = d
      .select(explode_outer(filter(
        split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " "),
        t => length(t) > 0)).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"),
        regexp_replace(col("word"), "(.)", "<$1>").as("enc"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    var step = 0
    var it = 1
    var exhausted = false
    while (it <= iters && !exhausted) {
      val pool = words
        .select(col("wc"),
          split(regexp_replace(col("enc"), "^<|>$", ""), "><").as("syms"))
        .withColumn("l", slice(col("syms"), lit(1), size(col("syms")) - 1))
        .withColumn("r", slice(col("syms"), lit(2), size(col("syms")) - 1))
        .select(col("wc"), explode(arrays_zip(col("l"), col("r"))).as("p"))
        .groupBy(col("p.l").as("pa"), col("p.r").as("pb"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(math.max(batchM * 4, 16)) // TakeOrdered, no global sort
        .collect()
      val picked = pickDisjointMerges(
        pool.iterator.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq,
        batchM)
      if (picked.isEmpty) exhausted = true
      else {
        val newEnc = picked.foldLeft(col("enc")) { case (e, (a, b, _)) =>
          replace(e, lit(s"<$a><$b>"), lit(s"<$a$b>"))
        }
        words = words.select(col("word"), col("wc"), newEnc.as("enc"))
          .localCheckpoint()
        merges ++= picked.zipWithIndex.map { case ((a, b, c), i) =>
          (step + i + 1, it, a, b, a + b, c)
        }
        step += picked.size
        it += 1
      }
    }
    import sp.implicits._
    merges.toSeq
      .toDF("step", "iteration", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("step"))
  }

  /** Greedy batch selection for [[bpeMergesBatchedOn]]: walk `pool` in
    * its (count desc, pair) order and keep a candidate (a, b) only if
    * its FULL claim set {a, b, a+b} is disjoint from every
    * previously-kept pair's claim set. Claiming the merged symbol a+b
    * (not just the constituents) is what makes the batch truly
    * non-interacting: a kept pair's OUTPUT token can otherwise equal a
    * later pair's INPUT token — e.g. keeping (ab, cd) then (abcd, e)
    * when 'abcd' is a pre-existing symbol — and the sequential replace
    * fold would merge adjacencies created mid-batch, violating the
    * order-independence and exact pre-batch pair_count contract.
    * (Symbols are delimited <...> tokens in the encoding, so equality
    * is the only collision mode — substrings cannot interact.) */
  private[pipeline] def pickDisjointMerges(pool: Seq[(String, String, Long)],
      batchM: Int): Seq[(String, String, Long)] = {
    val claimed = scala.collection.mutable.Set.empty[String]
    pool.iterator
      .filter { case (a, b, _) =>
        val m = a + b
        if (claimed(a) || claimed(b) || claimed(m)) false
        else { claimed += a; claimed += b; claimed += m; true }
      }
      .take(batchM).toSeq
  }

  val BpeVocabTopK = 50

  /** The TOKENIZER'S RESULTING VOCABULARY — what [[bpeMerges]]' merge
    * table buys: after applying all [[BpeMerges]] learned merges, the
    * top-[[BpeVocabTopK]] subword units by corpus occurrence, with the
    * word-type reach of each and the corpus-level compression the
    * merges achieved (`n_tokens` per word type before/after is what a
    * tokenizer evaluation tracks). Runs the SAME unrolled pipeline —
    * the final encoded vocabulary is the pipeline's end state, so the
    * vocabulary costs one extra explode + subword-keyed count over
    * the unique-word vocab, nothing corpus-sized. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabOn(Tables.spread(Tables.documents(spark, dir)))

  private[pipeline] def bpeVocabOn(d: DataFrame): DataFrame = {
    val (_, words) = bpePipeline(d)
    words
      .select(col("wc"), col("enc"),
        explode(split(regexp_replace(col("enc"), "^<|>$", ""), "><")).as("subword"))
      .groupBy(col("subword"))
      // the encoding is injective per word, so distinct enc = distinct
      // word types reached by the subword
      .agg(sum(col("wc")).as("n_occurrences"),
        countDistinct(col("enc")).as("n_word_types"))
      .orderBy(col("n_occurrences").desc, col("subword"))
      .limit(BpeVocabTopK)
  }

  lazy val bpeVocabSql: String =
    s"""WITH $bpeChainCtes
       |SELECT subword, CAST(SUM(wc) AS BIGINT) AS n_occurrences,
       |  COUNT(DISTINCT enc) AS n_word_types
       |FROM (
       |  SELECT wc, enc,
       |    unnest(string_split(regexp_replace(enc, '^<|>$$', '', 'g'), '><')) AS subword
       |  FROM w$BpeMerges)
       |GROUP BY subword
       |ORDER BY n_occurrences DESC, subword LIMIT $BpeVocabTopK""".stripMargin

  /** PER-DOCUMENT BPE application — the consumer view of the learned
    * merges: each doc's post-merge token count, the number sequence
    * packing and token-budget curation actually budget with (chars
    * and whitespace words are proxies; BPE tokens are the unit the
    * model consumes). Emits per doc the word count, the post-BPE
    * token count (Σ per-word subword lengths over occurrences), and
    * the chars-per-token compression the merges bought.
    *
    * Scale: the trained vocabulary is word-keyed metadata
    * (unique-word-sized); the corpus side explodes to (doc, word)
    * occurrences and meets it in ONE unhinted word-keyed equi-join
    * (AQE decides — the vocab is usually broadcastable but grows with
    * unique words, so no mandatory hint), then re-aggregates on
    * doc_id. Exactly the two-shuffle shape of text_tokencount with a
    * vocab probe in the middle. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOn(Tables.spread(Tables.documents(spark, dir)))

  private[pipeline] def bpeEncodeOn(d: DataFrame): DataFrame = {
    val (_, words) = bpePipeline(d)
    val vocabTokens = words.select(col("word"),
      size(split(regexp_replace(col("enc"), "^<|>$", ""), "><")).as("n_subwords"))
    d.select(col("doc_id"),
        explode_outer(filter(
          split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " "),
          t => length(t) > 0)).as("word"))
      .join(vocabTokens, Seq("word"), "left") // null word rows (empty docs) stay
      .groupBy(col("doc_id"))
      .agg(sum(when(col("word").isNotNull, 1L).otherwise(0L)).as("n_words"),
        coalesce(sum(col("n_subwords").cast("long")), lit(0L)).as("n_bpe_tokens"),
        coalesce(sum(length(col("word")).cast("long")), lit(0L)).as("n_word_chars"))
      .withColumn("chars_per_token",
        round(col("n_word_chars").cast("double") /
          greatest(col("n_bpe_tokens"), lit(1L)).cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  lazy val bpeEncodeSql: String =
    s"""WITH $bpeChainCtes,
       |vocab_tokens AS (
       |  SELECT word,
       |    len(string_split(regexp_replace(enc, '^<|>$$', '', 'g'), '><')) AS n_subwords
       |  FROM w$BpeMerges),
       |doc_words AS (
       |  SELECT doc_id, unnest(list_filter(
       |      string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
       |      t -> len(t) > 0)) AS word
       |  FROM documents),
       |agg AS (
       |  SELECT dw.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(v.n_subwords) AS BIGINT) AS n_bpe_tokens,
       |    CAST(SUM(len(dw.word)) AS BIGINT) AS n_word_chars
       |  FROM doc_words dw JOIN vocab_tokens v ON dw.word = v.word
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  COALESCE(a.n_word_chars, 0) AS n_word_chars,
       |  round(CAST(COALESCE(a.n_word_chars, 0) AS DOUBLE) /
       |    CAST(greatest(COALESCE(a.n_bpe_tokens, 0), 1) AS DOUBLE), 6) AS chars_per_token
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The unrolled BPE CTE chain (w0 … w[[BpeMerges]] + per-step pair
    * counts and winners) — shared verbatim by [[bpeMergesSql]] (reads
    * the t$i winners) and [[bpeVocabSql]] (aggregates the final
    * w[[BpeMerges]] vocabulary). */
  private lazy val bpeChainCtes: String = {
    val w0 =
      """w0 AS (
        |  SELECT word, regexp_replace(word, '(.)', '<\1>', 'g') AS enc, COUNT(*) AS wc
        |  FROM (
        |    SELECT unnest(list_filter(
        |      string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
        |      t -> len(t) > 0)) AS word
        |    FROM documents)
        |  GROUP BY word)""".stripMargin
    val stepCtes = (1 to BpeMerges).map { i =>
      s"""p$i AS (
         |  SELECT syms[j.j] AS pa, syms[j.j + 1] AS pb, CAST(SUM(wc) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT wc, string_split(regexp_replace(enc, '^<|>$$', '', 'g'), '><') AS syms
         |    FROM w${i - 1}),
         |    LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS j) j
         |  GROUP BY 1, 2),
         |t$i AS (
         |  SELECT $i AS step, pa AS left_sym, pb AS right_sym, pa || pb AS merged,
         |    cnt AS pair_count
         |  FROM p$i ORDER BY cnt DESC, pa, pb LIMIT 1),
         |w$i AS (
         |  SELECT w.word, w.wc,
         |    replace(w.enc, '<' || t.left_sym || '><' || t.right_sym || '>',
         |      '<' || t.left_sym || t.right_sym || '>') AS enc
         |  FROM w${i - 1} w CROSS JOIN t$i t)""".stripMargin
    }
    s"""$w0,
       |${stepCtes.mkString(",\n")}""".stripMargin
  }

  lazy val bpeMergesSql: String = {
    val unions = (1 to BpeMerges).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ")
    s"""WITH $bpeChainCtes
       |SELECT step, left_sym, right_sym, merged, pair_count
       |FROM ($unions) ORDER BY step""".stripMargin
  }

  // ------------------------------------------------------------ #28i token-budget selection

  /** Token-budget curation — keep the highest-quality documents until
    * a token budget (30% of the corpus's tokens) is spent: the
    * "rank by quality, cut at N tokens" step every training-mix
    * recipe ends with.
    *
    * The global running sum over the quality order is computed as a
    * DISTRIBUTED two-phase prefix sum, not a single-partition window:
    * `repartitionByRange` on the sort key range-partitions the corpus
    * (its sampler balances partitions even when scores tie — doc_id
    * disambiguates; a VALUE-derived band would pin a dense quality
    * band in one task), the per-partition token totals (≤shuffle-
    * partitions rows) prefix-sum in a tiny window and broadcast back
    * as offsets, and the within-partition running sum is a
    * partition-local window. offset + within-partition sum = the
    * exact global prefix sum; the result is independent of where the
    * sampled range boundaries land. The ranged frame feeds the
    * offsets AND the probe — localCheckpoint so the quality subtree
    * executes once (and partition ids stay frozen). */
  def selectBudget(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .repartitionByRange(parts, col("quality_score").desc, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val total = ranged.agg(sum(col("n_tokens")).as("total"))
      .select(expr("(total * 3) div 10").as("budget"))
    val wOff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("pid")).agg(sum(col("n_tokens")).as("part_tokens"))
      .withColumn("part_offset", coalesce(sum(col("part_tokens")).over(wOff), lit(0L)))
      .select(col("pid"), col("part_offset"))
    val wIn = Window.partitionBy(col("pid"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), Seq("pid"))
      .withColumn("cum_tokens", col("part_offset") + sum(col("n_tokens")).over(wIn))
      .join(broadcast(total), lit(true))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("cum_tokens"))
      .orderBy(col("cum_tokens"), col("doc_id"))
  }

  val selectBudgetSql: String =
    s"""WITH q AS (${TextAnalysis.qualitySql}),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM q),
       |c AS (
       |  SELECT doc_id, n_tokens, quality_score,
       |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM q)
       |SELECT doc_id, n_tokens, quality_score, cum_tokens
       |FROM c CROSS JOIN tot WHERE cum_tokens <= (total * 3) // 10
       |ORDER BY cum_tokens, doc_id""".stripMargin

  // ------------------------------------------------------------ #28j power iteration

  /** Two matvec rounds of distributed power iteration toward the top
    * principal direction of the uncentered gram matrix Σᵢ xᵢxᵢᵀ —
    * the 100 TB PCA building block. Each round u[j] = Σᵢ (xᵢ·v)·xᵢⱼ
    * is ONE corpus scan (codegen'd [[graft.functions.VecDot]] against
    * the broadcast direction) plus ONE dim-keyed exchange of ≤dim
    * keys with map-side partial sums; the dim×dim covariance matrix
    * is never materialized and no row talks to another row. The
    * updated direction re-broadcasts as a 1-row array aggregate
    * (same relational re-broadcast as [[embKmeans]]' centroids).
    *
    * Start vector = all-ones; directions stay UNNORMALIZED (two
    * rounds don't overflow, and normalizing is O(dim) driver work at
    * the consumer) so every output is an exact DECIMAL sum — the
    * cross-row sums round-trip through DECIMAL(27,12), bit-stable
    * under any partitioning on both engines. */
  def embPowerIteration(spark: SparkSession, dir: String): DataFrame = {
    val (_, u1, u2) = powerIterationFrames(spark, dir)
    u1.select(col("pos"), col("m").as("u1"))
      .join(u2.select(col("pos"), col("m").as("u2")), Seq("pos"))
      .select((col("pos") + 1).cast("int").as("dim"), col("u1"), col("u2"))
      .orderBy(col("dim"))
  }

  /** The two power-iteration matvec rounds shared by
    * [[embPowerIteration]] and [[embPcaProject]]: returns the typed
    * vector frame plus both unnormalized direction frames (pos, m). */
  private def powerIterationFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.VecDot.dot
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

    // u[pos] = Σ_rows (v·direction) * v[pos], DECIMAL-exact, rounded —
    // one [[graft.functions.MatvecDecimalSum]] aggregate instead of the
    // n·d-row posexplode + d-key hash aggregate (r14, guide §2.3): the
    // exchange carries ONE buffer per map partition, and the map side
    // is a primitive loop per row instead of d hash-table probes. The
    // per-position sums are the same exact scale-12 decimals, cast to
    // double by the same correctly-rounded conversion (see the
    // aggregate's exactness contract).
    def matvec(direction: DataFrame): DataFrame =
      vecs.join(broadcast(direction), lit(true))
        .withColumn("s", dot(col("v"), col("dv")))
        .agg(graft.functions.MatvecDecimalSum.matvecSum(col("s"), col("v")).as("u"))
        .select(posexplode(col("u")).as(Seq("pos", "m0")))
        .select(col("pos"), round(col("m0"), 6).as("m"))

    val ones = vecs.limit(1).select(transform(col("v"), _ => lit(1.0d)).as("dv"))
    val u1 = matvec(ones).localCheckpoint() // feeds d1 AND a second consumer
    val d1 = u1.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("dv"))
    (vecs, u1, matvec(d1))
  }

  private val sqlDot = (a: String, b: String) =>
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)), i -> ($a)[i] * ($b)[i])), (acc, x) -> acc + x)""".stripMargin

  /** Shared oracle CTE chain for the power-iteration family
    * (e → s1 → u1 → d1 → s2 → u2); `pos` is 1-based like the Spark
    * side's `pos + 1`. */
  private val powerIterationCtes: String =
    s"""e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |s1 AS (
       |  SELECT v, ${sqlDot("v", "list_transform(v, x -> CAST(1.0 AS DOUBLE))")} AS s FROM e),
       |u1 AS (
       |  SELECT i.i AS pos, round(CAST(SUM(CAST(s * v[i.i] AS DECIMAL(27,12))) AS DOUBLE), 6) AS m
       |  FROM s1, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY i.i),
       |d1 AS (SELECT list(m ORDER BY pos) AS dv FROM u1),
       |s2 AS (
       |  SELECT v, ${sqlDot("v", "d1.dv")} AS s FROM e CROSS JOIN d1),
       |u2 AS (
       |  SELECT i.i AS pos, round(CAST(SUM(CAST(s * v[i.i] AS DECIMAL(27,12))) AS DOUBLE), 6) AS m
       |  FROM s2, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY i.i)""".stripMargin

  val embPowerIterationSql: String =
    s"""WITH $powerIterationCtes
       |SELECT CAST(u1.pos AS INT) AS dim, u1.m AS u1, u2.m AS u2
       |FROM u1 JOIN u2 ON u1.pos = u2.pos
       |ORDER BY dim""".stripMargin

  // ------------------------------------------------------------ #28q PCA projection

  /** Per-vector projection onto [[embPowerIteration]]'s converged
    * direction — the CONSUMER of the 100 TB PCA building block: the
    * 1-D coordinate every downstream curriculum/binning/outlier pass
    * wants. The u2 direction re-enters as a 1-row array aggregate and
    * broadcasts; the projection itself is one codegen'd
    * [[graft.functions.VecDot]] per row — map-only over the corpus, no
    * second shuffle after the two matvec exchanges. Direction stays
    * unnormalized (same contract as the parent operator), so every
    * score is a deterministic double both engines reproduce. */
  def embPcaProject(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot.dot
    val (vecs, _, u2) = powerIterationFrames(spark, dir)
    val d2 = u2.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("dv"))
    vecs.join(broadcast(d2), lit(true))
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), col("dv")), 6).as("proj"))
      .orderBy(col("vec_id"))
  }

  val embPcaProjectSql: String =
    s"""WITH $powerIterationCtes,
       |d2 AS (SELECT list(m ORDER BY pos) AS dv FROM u2)
       |SELECT vec_id, label, round(${sqlDot("v", "dv")}, 6) AS proj
       |FROM e CROSS JOIN d2
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------ #28z top-k PCA

  /** Principal components extracted per deflation round. */
  val PcaComponents = 3

  /** TOP-[[PcaComponents]] PCA DIRECTIONS by power iteration with
    * Hotelling DEFLATION — the multi-component extension of
    * [[embPowerIteration]]'s building block: extract the dominant
    * direction (two unrolled matvec rounds from the all-ones start,
    * the parent operator's contract), NORMALIZE it, project it out of
    * every vector (v ← v − (v·e)e), repeat on the deflated corpus.
    * Emits the three unit directions per dimension — the basis a
    * 3-D embedding map / whitening pass consumes.
    *
    * Determinism across engines: every materialization point is
    * rounded (matvec sums DECIMAL(27,12)-exact as in the parent; the
    * norm accumulates m² in DECIMAL(38,12) — round-2 magnitudes
    * square to ~1e18, past DECIMAL(27,12)'s 15 integer digits; unit
    * components rounded to 6), and all elementwise IEEE arithmetic
    * shares the oracle's fold order. Scale: each matvec is one
    * broadcast + posexplode + d-key aggregate (n·d-row exchange);
    * deflation is map-only against the broadcast 1-row direction;
    * 3 components = 6 unrolled matvec exchanges, corpus read once
    * (localCheckpoint between deflations). */
  def embPcaTopk(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint() // three deflation chains re-read the corpus
    var vs = vecs
    val es = (1 to PcaComponents).map { k =>
      val e = unitize(topDirection(vs)).localCheckpoint()
      if (k < PcaComponents) vs = deflate(vs, dirArray(e)).localCheckpoint()
      e
    }
    es.zipWithIndex
      .map { case (e, i) => e.select(col("pos"), col("e").as(s"pc${i + 1}")) }
      .reduce((a, b) => a.join(b, Seq("pos")))
      .select((col("pos") + 1).cast("int").as("dim"),
        col("pc1"), col("pc2"), col("pc3"))
      .orderBy(col("dim"))
  }

  /** u[pos] = Σ_rows (v·direction)·v[pos], DECIMAL-exact — one
    * broadcast of the 1-row direction, one
    * [[graft.functions.MatvecDecimalSum]] aggregate whose exchange
    * carries a single buffer per map partition (r14; was an n·d-row
    * posexplode + d-key aggregate — same exact sums, see the
    * aggregate's contract). */
  private def matvecOn(vs: DataFrame, direction: DataFrame): DataFrame = {
    import graft.functions.VecDot.dot
    vs.join(broadcast(direction), lit(true))
      .withColumn("s", dot(col("v"), col("dv")))
      .agg(graft.functions.MatvecDecimalSum.matvecSum(col("s"), col("v")).as("u"))
      .select(posexplode(col("u")).as(Seq("pos", "m0")))
      .select(col("pos"), round(col("m0"), 6).as("m"))
  }

  /** Two unrolled power-iteration rounds from the all-ones start —
    * [[embPowerIteration]]'s recipe over any `(vec_id, v)` frame. */
  private def topDirection(vs: DataFrame): DataFrame = {
    val ones = vs.limit(1).select(transform(col("v"), _ => lit(1.0d)).as("dv"))
    val u1 = matvecOn(vs, ones)
    val d1 = u1.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("dv"))
    matvecOn(vs, d1)
  }

  /** (pos, m) → unit-normalized (pos, e), norm DECIMAL-exact. */
  private def unitize(u: DataFrame): DataFrame = {
    val n = u.agg(
      sqrt(sum((col("m") * col("m")).cast("decimal(38,12)")).cast("double")).as("nrm"))
    u.crossJoin(broadcast(n))
      .select(col("pos"), round(col("m") / col("nrm"), 6).as("e"))
  }

  /** (pos, e) → 1-row `dv` array, ordered by pos. */
  private def dirArray(e: DataFrame): DataFrame =
    e.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("e")))),
        s => s.getField("e")).as("dv"))

  /** Hotelling deflation: v ← v − (v·e)e against the broadcast unit
    * direction — map-only. */
  private def deflate(vs: DataFrame, e: DataFrame): DataFrame = {
    import graft.functions.VecDot.dot
    vs.join(broadcast(e), lit(true))
      .withColumn("p", dot(col("v"), col("dv")))
      .select(col("vec_id"),
        zip_with(col("v"), col("dv"), (a, b) => a - col("p") * b).as("v"))
  }

  /** One power-iteration + normalization CTE block over `$src`
    * (suffix `$tag`), mirroring [[matvecOn]]/[[unitize]] exactly. */
  private def pcaRoundCtes(src: String, tag: String): String =
    s"""s1$tag AS (
       |  SELECT v, ${sqlDot("v", "list_transform(v, x -> CAST(1.0 AS DOUBLE))")} AS s FROM $src),
       |u1$tag AS (
       |  SELECT i.i AS pos, round(CAST(SUM(CAST(s * v[i.i] AS DECIMAL(27,12))) AS DOUBLE), 6) AS m
       |  FROM s1$tag, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY i.i),
       |d1$tag AS (SELECT list(m ORDER BY pos) AS dv FROM u1$tag),
       |s2$tag AS (
       |  SELECT v, ${sqlDot("v", s"d1$tag.dv")} AS s FROM $src CROSS JOIN d1$tag),
       |u2$tag AS (
       |  SELECT i.i AS pos, round(CAST(SUM(CAST(s * v[i.i] AS DECIMAL(27,12))) AS DOUBLE), 6) AS m
       |  FROM s2$tag, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) i
       |  GROUP BY i.i),
       |n$tag AS (
       |  SELECT CAST(sqrt(CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE)) AS DOUBLE) AS nrm FROM u2$tag),
       |e$tag AS (SELECT list(round(m / n$tag.nrm, 6) ORDER BY pos) AS ev FROM u2$tag, n$tag)""".stripMargin

  /** Deflation CTE: `$out` = `$src` minus its `e$k` projection. */
  private def pcaDeflateCte(src: String, k: Int, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, list_transform(generate_series(1, len(v)), i -> v[i] - p * ev[i]) AS v
       |  FROM (SELECT t.vec_id, t.v, ${sqlDot("t.v", s"e$k.ev")} AS p, e$k.ev AS ev
       |        FROM $src t CROSS JOIN e$k))""".stripMargin

  val embPcaTopkSql: String =
    s"""WITH v0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |${pcaRoundCtes("v0", "1")},
       |${pcaDeflateCte("v0", 1, "w1")},
       |${pcaRoundCtes("w1", "2")},
       |${pcaDeflateCte("w1", 2, "w2")},
       |${pcaRoundCtes("w2", "3")}
       |SELECT CAST(i.i AS INT) AS dim, e1.ev[i.i] AS pc1, e2.ev[i.i] AS pc2, e3.ev[i.i] AS pc3
       |FROM e1 CROSS JOIN e2 CROSS JOIN e3,
       |  LATERAL (SELECT unnest(generate_series(1, len(e1.ev))) AS i) i
       |ORDER BY dim""".stripMargin

  // ------------------------------------------------------------ #28z2 farthest-first seeds

  /** Seeds selected by farthest-first traversal. */
  val FarthestSeeds = 8

  /** FARTHEST-FIRST TRAVERSAL (Gonzalez k-center): pick vec 0, then
    * repeatedly the vector MAXIMIZING its distance² to the chosen set
    * — the classic 2-approximation for k-center and the diversity
    * seeding for k-means/coresets (what k-means++ approximates
    * stochastically; this variant is deterministic, so it
    * oracle-checks). Per round: one map pass folding the new seed
    * into the running min-distance column (broadcast 1-row seed,
    * `least(md, d²)`), one TakeOrdered top-1 — no shuffle of the
    * corpus, [[FarthestSeeds]]−1 unrolled rounds, the kmeans-unroll
    * pattern. Emits each seed with its selection distance² (the
    * k-center radius curve — how much coverage each seed buys). */
  def embSeedFarthest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot.dot
    val vecs = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint() // re-read per unrolled round
    val s0 = vecs.filter(col("vec_id") === 0)
    def foldSeed(in: DataFrame, seed: DataFrame): DataFrame = in
      .crossJoin(broadcast(seed.select(col("v").as("sv"))))
      .withColumn("diff", zip_with(col("v"), col("sv"), (a, b) => a - b))
      .select(col("vec_id"), col("v"),
        least(coalesce(col("md"), lit(Double.MaxValue)),
          dot(col("diff"), col("diff"))).as("md"))
      .localCheckpoint()
    var md = foldSeed(vecs.withColumn("md", lit(null).cast("double")), s0)
    val picks = Seq.newBuilder[DataFrame]
    picks += s0.select(lit(1).as("seed_idx"), col("vec_id"), lit(0.0d).as("dist2"))
    for (k <- 2 to FarthestSeeds) {
      val next = md.orderBy(col("md").desc, col("vec_id")).limit(1).localCheckpoint()
      picks += next.select(lit(k).as("seed_idx"), col("vec_id"),
        round(col("md"), 6).as("dist2"))
      if (k < FarthestSeeds) md = foldSeed(md, next)
    }
    picks.result().reduce(_ unionByName _).orderBy(col("seed_idx"))
  }

  private def d2Sql(a: String, s: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)), i -> (($a)[i] - ($s)[i]) * (($a)[i] - ($s)[i]))), (acc, x) -> acc + x)""".stripMargin

  val embSeedFarthestSql: String = {
    val rounds = (2 to FarthestSeeds).map { k =>
      val prev = if (k == 2) "m1" else s"m${k - 1}"
      val pick = s"p$k AS (SELECT vec_id, v, md FROM $prev ORDER BY md DESC, vec_id LIMIT 1)"
      val fold =
        if (k < FarthestSeeds)
          s""",
             |m$k AS (
             |  SELECT a.vec_id, a.v, least(a.md, ${d2Sql("a.v", "s.v")}) AS md
             |  FROM $prev a CROSS JOIN p$k s)""".stripMargin
        else ""
      pick + fold
    }.mkString(",\n")
    val selects = (2 to FarthestSeeds)
      .map(k => s"UNION ALL SELECT $k AS seed_idx, vec_id, round(md, 6) AS dist2 FROM p$k")
      .mkString("\n")
    s"""WITH v0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |m1 AS (
       |  SELECT a.vec_id, a.v, ${d2Sql("a.v", "s.v")} AS md
       |  FROM v0 a CROSS JOIN (SELECT v FROM v0 WHERE vec_id = 0) s),
       |$rounds
       |SELECT * FROM (
       |SELECT 1 AS seed_idx, vec_id, CAST(0.0 AS DOUBLE) AS dist2 FROM v0 WHERE vec_id = 0
       |$selects)
       |ORDER BY seed_idx""".stripMargin
  }

  // ------------------------------------------------------------ #28r quality deciles

  /** Corpus quality deciles — the curriculum/ablation report: docs
    * ranked by [[TextAnalysis.quality]] score and cut into NTILE(10)
    * buckets, each decile summarized (doc count, score range, token
    * mass). The global rank comes from
    * [[graft.functions.DistributedRanks.withGroupRanks]] over a
    * constant group — a plain `ntile(10) over (order by score)` is THE
    * canonical single-partition window (every row through one task);
    * here ranks are exact under range partitioning and the decile is
    * closed-form from (rank, n) with standard NTILE semantics (first
    * n mod 10 buckets one row larger). The decile aggregate is a
    * 10-key groupBy with map-side combine. */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("__g", lit(1))
    graft.functions.DistributedRanks
      .withGroupRanks(q, "__g", Seq(col("quality_score").desc, col("doc_id")))
      // NTILE(k) closed form: qq = n div k rows per bucket, the first
      // r = n mod k buckets hold one extra. CASE guards the qq = 0
      // edge (then rn <= r = n is always true, the else never runs).
      .withColumn("decile", expr(
        """CAST(CASE WHEN rn <= (n div 10 + 1) * (n % 10)
          |  THEN (rn - 1) div (n div 10 + 1) + 1
          |  ELSE n % 10 + (rn - 1 - (n div 10 + 1) * (n % 10)) div (n div 10) + 1
          |END AS INT)""".stripMargin))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("lo_score"),
        max(col("quality_score")).as("hi_score"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("decile"))
  }

  val qualityDecilesSql: String =
    s"""WITH q AS (${TextAnalysis.qualitySql}),
       |r AS (
       |  SELECT n_tokens, quality_score,
       |    NTILE(10) OVER (ORDER BY quality_score DESC, doc_id) AS decile
       |  FROM q)
       |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
       |  MIN(quality_score) AS lo_score, MAX(quality_score) AS hi_score,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       |FROM r GROUP BY decile ORDER BY decile""".stripMargin

  // ------------------------------------------------------------ #28s per-source budget

  /** Token-budget curation PER PROVENANCE GROUP — [[selectBudget]]'s
    * 30%-of-tokens rule applied within each source (the per-domain
    * curation every mixture recipe actually runs: a global budget lets
    * one huge source crowd out the tail). The grouped running sum is
    * [[graft.functions.DistributedRanks.withGroupPrefixSum]] — range-
    * partitioned two-phase, so no task ever holds a whole source (a
    * `sum over (partition by source order by …)` window would
    * serialize the biggest source through one task). Per-source
    * totals aggregate off the same checkpointed frame and join back
    * (a ~|sources|-row relation — AQE broadcasts it). */
  def budgetBySource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"))
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .join(src, Seq("doc_id"))
    val summed = graft.functions.DistributedRanks.withGroupPrefixSum(
      q, "source", Seq(col("quality_score").desc, col("doc_id")),
      col("n_tokens"), "cum_tokens")
    val budgets = summed.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total"))
      .select(col("source"), expr("(total * 3) div 10").as("budget"))
    summed.join(budgets, Seq("source"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("quality_score"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
  }

  val budgetBySourceSql: String =
    s"""WITH q AS (${TextAnalysis.qualitySql}),
       |j AS (
       |  SELECT d.source, q.doc_id, q.n_tokens, q.quality_score
       |  FROM q JOIN documents d USING (doc_id)),
       |c AS (
       |  SELECT source, doc_id, n_tokens, quality_score,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM j),
       |t AS (
       |  SELECT source, (CAST(SUM(n_tokens) AS BIGINT) * 3) // 10 AS budget
       |  FROM j GROUP BY 1)
       |SELECT c.source, c.doc_id, c.n_tokens, c.quality_score, c.cum_tokens
       |FROM c JOIN t USING (source)
       |WHERE c.cum_tokens <= t.budget
       |ORDER BY source, cum_tokens, doc_id""".stripMargin
}
