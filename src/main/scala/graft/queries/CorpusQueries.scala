package graft.queries

import graft.Tables
import graft.ops.{Cleaning, Scratch, TextOps, VectorOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Second corpus-analysis pack: embedding clustering, masking/redaction,
  * repetition detection, length profiling, and n-gram frequency — the
  * remaining text/embedding operators a pre-training data pipeline runs
  * beyond LlmQueries' dedup/ANN core.
  *
  * Scale posture matches LlmQueries: centroid assignment broadcasts only
  * the constant-size centroid set; everything else is map work + hash
  * aggregation with partial combine. All aggregates are exact integer
  * units (micro/milli) so results are partition-order-independent.
  */
object CorpusQueries extends QueryPack {

  /** Upper-triangle Gram matrix Σ v·vᵀ, scratch-materialized once per
    * (session, dir) — both linalg queries read the same 2080-cell
    * artifact, so the corpus pass runs once.
    */
  private def gramUpper(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("gram_upper", s, d) {
      Tables.embeddings(s, d).filter(col("vec_id") >= 8)
        .select(col("embedding").as("v"), posexplode(col("embedding")).as(Seq("i", "xi")))
        .select(col("i"),
          expr("CAST(round(CAST(xi AS DOUBLE) * 1000) AS BIGINT)").as("a"),
          explode(expr(
            """transform(sequence(i, size(v) - 1),
              |  j -> struct(j AS j, element_at(v, j + 1) AS xj))""".stripMargin)).as("p"))
        .select(col("i").cast("long").as("i"), col("p.j").cast("long").as("j"),
          (col("a").cast("decimal(38,0)") *
            expr("CAST(round(CAST(p.xj AS DOUBLE) * 1000) AS BIGINT)")).as("prod"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"), sum("prod").cast("long").as("gram_milli2"))
    }

  /** Top eigenvector of the Gram matrix (6 integer power-iteration
    * rounds), scratch-materialized — the iterate chain runs once per
    * (session, dir) and both the power-iteration and PCA-projection
    * queries read the 64-row artifact. The gram artifact materializes
    * BEFORE the eigvec build (Scratch is nesting-safe since r9, but the
    * hoist keeps the documented discipline).
    */
  private def eigvec(s: SparkSession, d: String): DataFrame = {
    val up = gramUpper(s, d)
    Scratch.materialize("eigvec", s, d) {
      val full = up.select(col("i"), col("j"), col("gram_milli2"))
        .unionAll(up.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("gram_milli2")))
      val x0 = s.range(0, 64).select(col("id").as("j"), lit(1000L).as("x"))
      def iterate(x: DataFrame): DataFrame = {
        val y = full.join(broadcast(x), "j")
          .groupBy("i")
          .agg(sum(col("gram_milli2").cast("decimal(38,0)") * col("x")).as("y"))
        val mx = y.agg(max("y").as("mx"))
        y.crossJoin(broadcast(mx))
          .select(col("i").as("j"),
            expr("CAST((y * 1000) div mx AS BIGINT)").as("x"))
      }
      (1 to 6).foldLeft(x0)((x, _) => iterate(x))
    }
  }

  /** Rank-1 centroid assignment (broadcast constant-size centroid set) —
    * shared by the k-means queries and the trained-IVF index build.
    */
  private def kmAssign(data: DataFrame, cents: DataFrame): DataFrame = {
    val aw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
    data.crossJoin(broadcast(cents))
      .withColumn("c_cos", VectorOps.cosine(col("v"), col("cv")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("v"), col("c_id").as("bucket"))
  }

  /** One Lloyd update of `cent0` over `data`: integer-micro FLOOR-divided
    * component means — kmeans_iter2's model step, shared by the trained
    * quantizer and the incremental-index fixture (which trains on the
    * BASE corpus only).
    */
  private def lloydStep(data: DataFrame, cent0: DataFrame): DataFrame = {
    val moments1 = kmAssign(data, cent0)
      .select(col("bucket"), posexplode(col("v")))
      .select(col("bucket"), col("pos"),
        expr("CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("micro"))
      .groupBy("bucket", "pos")
      .agg(sum("micro").as("sm"), count(lit(1)).as("n"))
      .select(col("bucket"), col("pos"),
        expr("CASE WHEN sm % n = 0 OR sm >= 0 THEN sm div n ELSE sm div n - 1 END")
          .as("cmicro"))
    moments1.groupBy(col("bucket").as("c_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cmicro))), " +
        "r -> CAST(r.cmicro AS DOUBLE) / 1000000.0)").as("cv"))
  }

  /** The trained coarse quantizer `ann_ivf_trained` probes: one Lloyd
    * update from the fixed seed centroids (vec_id < 8) over the full
    * vector set.
    */
  private def kmTrainedCentroids(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val cent0 = e.filter(col("vec_id") < 8).select(col("vec_id").as("c_id"), col("v").as("cv"))
    lloydStep(e.filter(col("vec_id") >= 8), cent0)
  }

  /** ANN index + corpus committed THROUGH the TxLog layer (VERDICT r9
    * item 6): corpus v1 = vectors [8, 300), v2 appends the rest; index
    * v1 = the seed quantizer, v2 = an atomic OVERWRITE with the trained
    * centroids. Search pins (corpus asOf v, index asOf v) — a version
    * pair is provably consistent because each snapshot resolves its
    * immutable segment list once (a rebuild overwriting the index can
    * never tear a pinned search; TxLogSpec pins that property).
    */
  private val annTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()
  private def annTxTables(s: SparkSession, d: String): (String, String) =
    annTables.computeIfAbsent((s, d), _ => {
      val tag = (d.hashCode & 0xffffff).toHexString
      val tc = s"${graft.ops.Scratch.base}/anncorpus_$tag"
      val ti = s"${graft.ops.Scratch.base}/annindex_$tag"
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      graft.ops.TxLog.append(e.filter(col("vec_id") >= 8 && col("vec_id") < 300), tc)
      graft.ops.TxLog.append(e.filter(col("vec_id") >= 300), tc)
      val cent0 = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      graft.ops.TxLog.append(cent0, ti)
      graft.ops.TxLog.overwrite(kmTrainedCentroids(s, d), ti)
      (tc, ti)
    })

  /** INCREMENTAL ANN index maintenance fixture (VERDICT r10 item 4):
    * three TxLog tables — corpus, index (centroids), CODES. The index is
    * trained ONCE on the base corpus and never rebuilt; the micro-batch
    * append assigns its vectors against the COMMITTED centroids
    * (snapshot-read from the index table, not recomputed) and appends
    * only the new codes — corpus and codes logs grow by one append each,
    * zero rewrites (manifest geometry pinned in RetrievalSpec). Because
    * assignment is a pure per-vector function of the committed centroids,
    * union-of-code-appends ≡ full reassignment of the union corpus — the
    * oracle computes that full rebuild closed-form.
    */
  private val annIncr = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, String, String)]()
  private def annIncrTables(s: SparkSession, d: String): (String, String, String) =
    annIncr.computeIfAbsent((s, d), _ => {
      val tag = (d.hashCode & 0xffffff).toHexString
      val tc = s"${graft.ops.Scratch.base}/annicorpus_$tag"
      val ti = s"${graft.ops.Scratch.base}/anniindex_$tag"
      val tk = s"${graft.ops.Scratch.base}/annicodes_$tag"
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val base = e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
      val batch = e.filter(col("vec_id") >= 300)
      val cent0 = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      graft.ops.TxLog.append(base, tc)                 // corpus v1
      graft.ops.TxLog.append(lloydStep(base, cent0), ti) // index v1 (trained on base)
      val committed = graft.ops.TxLog.snapshot(s, ti)  // the COMMITTED quantizer
        .select(col("c_id"), col("cv"))
      graft.ops.TxLog.append(
        kmAssign(base, committed).select(col("vec_id"), col("bucket")), tk) // codes v1
      // the incremental micro-batch: corpus append + codes append only
      graft.ops.TxLog.append(batch, tc)                // corpus v2
      graft.ops.TxLog.append(
        kmAssign(batch, committed).select(col("vec_id"), col("bucket")), tk) // codes v2
      (tc, ti, tk)
    })

  /** Per-doc BPE tokenization result (shared by bpe_encode and
    * pack_token_bins_bpe): whitespace vs BPE token counts + the token-id
    * checksum pinning the exact tokenization.
    */
  private def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
      val sep = "\u0001"
      val words0 = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      def mergeOnce(v: DataFrame): DataFrame = {
        val top1 = v
          .select(col("cnt"), expr(s"slice(split(rep, '$sep'), 2, 1000000)").as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  i -> struct(element_at(syms, i) AS p1,
              |              element_at(syms, i + 1) AS p2))""".stripMargin))
            .as("p"))
          .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
          .agg(sum("cnt").as("pc"))
          .orderBy(col("pc").desc, col("p1").asc, col("p2").asc)
          .limit(1)
        v.crossJoin(broadcast(top1))
          .withColumn("rep",
            expr(s"replace(rep, concat('$sep', p1, '$sep', p2), concat('$sep', p1, p2))"))
          .select("w", "cnt", "rep")
      }
      // each merge round goes to scratch parquet, so plan lineage stays
      // linear in iterations, not exponential
      val vocab = (0 to 4).foldLeft[DataFrame](null) { (v, i) =>
        Scratch.materialize(s"bpe_vocab_$i", s, d) {
          if (i == 0)
            words0.groupBy("w").agg(count(lit(1)).as("cnt"))
              .withColumn("rep", regexp_replace(col("w"), "(.)", sep + "$1"))
          else mergeOnce(v)
        }
      }
      // r17 (guide §6, VERDICT r16 item 6): the per-word encoding table
      // (symbol-id sum + symbol count per vocab word) is corpus-derived
      // state rebuilt identically by every consumer rep — the vocab
      // explode, the tok-id window and the symbol join ran per rep for
      // both bpe queries. It is exactly the "trained tokenizer table" a
      // production pipeline stages beside the vocab: materialize it once
      // per (session, dir) through the same scratch ledger as the vocab
      // iterations themselves (nonce-keyed, rebuilt every JVM). Per-rep
      // work drops to words ⋈ perWord + the final per-doc aggregate.
      val perWord = Scratch.materialize("bpe_perword", s, d) {
        val symId = vocab
          .select(explode(expr(s"slice(split(rep, '$sep'), 2, 1000000)")).as("sym"))
          .distinct()
          .withColumn("tok_id", row_number().over(
            Window.partitionBy(Cleaning.singlePartitionKey(col("sym"))).orderBy("sym"))
            .cast("long"))
        vocab
          .select(col("w"), explode(expr(s"slice(split(rep, '$sep'), 2, 1000000)")).as("sym"))
          .join(symId, "sym")
          .groupBy("w")
          .agg(sum("tok_id").as("w_id_sum"), count(lit(1)).as("w_n_sym"))
      }
      words0.join(perWord, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ws_tokens"), sum("w_n_sym").as("n_bpe_tokens"),
          sum("w_id_sum").as("tok_id_sum"))
  }

  val queries: Map[String, Q] = Map(
    // One Lloyd iteration of k-means over the embedding corpus: assign
    // every vector to its nearest of 8 fixed centroids (broadcast — the
    // centroid set is constant-size at any corpus scale), then recompute
    // per-dimension component sums in exact integer micro-units.
    // posexplode fans each vector into (bucket, pos, component); the
    // re-aggregation is a hash agg on (bucket, pos) with map-side partial
    // sums — one shuffle of 8×64 groups regardless of corpus size.
    "kmeans_iter" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val cent = e.filter(col("vec_id") < 8).select(col("vec_id").as("c_id"), col("v").as("cv"))
      val data = e.filter(col("vec_id") >= 8)
      val aw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
      data.crossJoin(broadcast(cent))
        .withColumn("c_cos", VectorOps.cosine(col("v"), col("cv")))
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") === 1)
        .select(col("c_id").as("bucket"), posexplode(col("v")))
        .select(col("bucket"), col("pos").cast("long").as("pos"),
          expr("CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("micro"))
        .groupBy("bucket", "pos")
        .agg(count(lit(1)).as("n_members"), sum("micro").as("sum_micro"))
        .orderBy("bucket", "pos")
    }),

    // Distributed QUALITY-CLASSIFIER training (the fastText-style filter
    // every LLM corpus pipeline runs, reduced to its engine shape): 3
    // full-batch gradient-descent iterations of logistic regression
    // predicting whether a doc mentions 'spark' from two cheap text features
    // (longer docs are likelier to contain any given token - a real,
    // imperfect signal, which is exactly the logistic regime). Each iteration
    // is ONE broadcast crossjoin (the model is a 1-row frame) + ONE hash
    // agg of per-feature gradient means — nothing iterates on the driver
    // beyond plan composition, no collect. The model is RE-QUANTIZED to
    // integer MICRO-units after every step (kmeans_iter2's discipline):
    // both engines then feed bit-identical doubles into the next sigmoid,
    // so three chained float iterations stay oracle-exact. Scale: the
    // gradient agg is a map-side-combined sum over the corpus — one
    // shuffle of 1 row per partition per iteration; the feature scan
    // re-reads the materialized (y, x1, x2) projection, never raw text.
    "quality_logreg" -> ((s, d) => {
      val f = graft.ops.Scratch.materialize("logregfeat", s, d) {
        Tables.documents(s, d).select(
          expr("CASE WHEN instr(text, 'spark') > 0 THEN 1.0 ELSE 0.0 END").as("y"),
          expr("least(length(text), 2000) / 2000.0").as("x1"),
          expr("(length(text) - length(translate(text, 'aeiou', ''))) " +
            "/ CAST(greatest(length(text), 1) AS DOUBLE)").as("x2"))
      }
      val w0 = s.range(1).select(
        expr("CAST(0 AS BIGINT) AS w0m"), expr("CAST(0 AS BIGINT) AS w1m"),
        expr("CAST(0 AS BIGINT) AS w2m"))
      def step(w: DataFrame): DataFrame =
        f.crossJoin(broadcast(w))
          .withColumn("p", expr(
            "1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0)))"))
          .agg(
            expr("CAST(min(w0m) - round(avg((p - y) * 1.0) * 1000000) AS BIGINT) AS w0m"),
            expr("CAST(min(w1m) - round(avg((p - y) * x1) * 1000000) AS BIGINT) AS w1m"),
            expr("CAST(min(w2m) - round(avg((p - y) * x2) * 1000000) AS BIGINT) AS w2m"))
      val w3 = step(step(step(w0)))
      f.crossJoin(broadcast(w3))
        .withColumn("p", expr(
          "1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0)))"))
        .agg(
          expr("min(w0m) AS w0m"), expr("min(w1m) AS w1m"), expr("min(w2m) AS w2m"),
          expr("count(1) AS n_train"),
          expr("CAST(round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * 1000) " +
            "AS BIGINT) AS logloss_milli"))
    }),

    // The full training-loop shape: TWO Lloyd iterations, where iteration
    // 2's centroids are RECOMPUTED from iteration 1's assignment and
    // broadcast back — the assign → update-model → reassign cycle every
    // distributed trainer runs. Centroid components are integer-micro
    // FLOOR-divided means (Spark `div` truncates toward zero while DuckDB
    // `//` floors, and embedding sums go negative — the explicit CASE
    // keeps both engines on floor), so the second assignment compares
    // bit-identical doubles. Each iteration is one broadcast crossjoin
    // (constant-size centroid set) + one hash agg; nothing iterates on
    // the driver beyond plan composition.
    "kmeans_iter2" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val data = e.filter(col("vec_id") >= 8)
      kmAssign(data, kmTrainedCentroids(s, d))
        .select(col("bucket"), posexplode(col("v")))
        .select(col("bucket"), col("pos").cast("long").as("pos"),
          expr("CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)").as("micro"))
        .groupBy("bucket", "pos")
        .agg(count(lit(1)).as("n_members"), sum("micro").as("sum_micro"))
        .orderBy("bucket", "pos")
    }),

    // GRAM MATRIX Σ v·vᵀ over the embedding corpus — the covariance/PCA
    // building block every embedding pipeline eventually computes. Upper
    // triangle only (the matrix is symmetric): each vector fans out to
    // its 2080 (i ≤ j) component pairs — pure map work, linear in corpus
    // size with a constant dim² factor — and one hash aggregate on the
    // 2080 (i, j) cells with map-side partial combine reduces the whole
    // corpus to a dim×dim result. Components are milli-rounded before
    // multiplying and products accumulate in DECIMAL(38,0)/HUGEINT, so
    // the 64×64 output is bit-exact on both engines at any corpus size.
    "linalg_gram_matrix" -> ((s, d) =>
      gramUpper(s, d)
        .select(col("i"), col("j"), col("n"), col("gram_milli2"))
        .orderBy("i", "j")),

    // POWER ITERATION for the top eigenvector of the Gram matrix — the
    // actual PCA step on top of linalg_gram_matrix's artifact. The full
    // symmetric G is the upper triangle ∪ its transpose; each of 6
    // unrolled iterations is y = G·x (a join of the 4096-cell matrix with
    // the broadcast 64-row vector + a per-row hash agg) followed by an
    // integer rescale x' = y·1000 div max(y) — all exact integer
    // arithmetic with DECIMAL(38,0) accumulation, so both engines iterate
    // bit-identically and converge to the same milli-scaled direction.
    // (G is PSD, so y stays nonnegative once x ≥ 0 — max(y) is the ∞-norm
    // and the div is well-defined.) Everything after the corpus pass
    // operates on dim-bounded relations: 6 iterations cost 6 tiny joins
    // regardless of corpus size.
    "linalg_power_iteration" -> ((s, d) =>
      eigvec(s, d).select(col("j").as("i"), col("x").as("eigvec_milli")).orderBy("i")),

    // PCA PROJECTION — the triad's last step: every corpus vector scored
    // against the learned principal direction (Σ vᵢ·eᵢ in exact milli²),
    // top-10 most-aligned vectors reported. The eigenvector is a
    // scratch-materialized 64-row artifact broadcast onto the posexploded
    // corpus — one linear pass + a TakeOrderedAndProject, the shape a
    // dimensionality-reduction or outlier-scoring pipeline runs at 100 TB.
    "linalg_pca_project" -> ((s, d) => {
      val e = eigvec(s, d) // (j, x) = milli eigenvector
      Tables.embeddings(s, d).filter(col("vec_id") >= 8)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "c")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          expr("CAST(round(CAST(c AS DOUBLE) * 1000) AS BIGINT)").as("c"))
        .join(broadcast(e), "j")
        .groupBy("vec_id")
        .agg(sum(col("c").cast("decimal(38,0)") * col("x")).cast("long")
          .as("score_milli2"))
        .orderBy(col("score_milli2").desc, col("vec_id"))
        .limit(10)
    }),

    // BOTTOM-K-BY-HASH uniform sample + quantile estimate — the
    // DataSketches-style mergeable sampling primitive: per group keep the
    // 64 rows with the smallest portable hashes (merge-order-DETERMINISTIC,
    // unlike reservoir sampling — the k smallest of a set don't depend on
    // arrival order, so the sample itself is engine-reproducible), then
    // estimate the median as the sample's lower median. Ground truth is
    // the exact lower median computed beside it; err_cents pins the
    // estimator's actual error. The sample path is a WindowGroupLimit-
    // prunable rank-64 per group — each map task forwards ≤ 64 rows per
    // group into the exchange regardless of corpus size; the ground
    // truth is the weighted median over per-(type, value) counts
    // (value-domain-bounded window input — a raw-row rank per type would
    // walk all rows through |types| tasks, VERDICT r9's ceiling class;
    // 2·cumw ≥ n picks exactly the lower-median rank (n+1) div 2).
    "sample_bottomk_median" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          Cleaning.cents(col("value")).as("cents"))
      val wh = Window.partitionBy("event_type").orderBy(col("h"), col("event_id"))
      val ws = Window.partitionBy("event_type").orderBy(col("cents"), col("event_id"))
      val est = ev
        .withColumn("h", TextOps.hash60(col("event_id").cast("string")))
        .withColumn("rn", row_number().over(wh))
        .filter(col("rn") <= 64)
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("sr", row_number().over(ws))
        .filter(col("sr") === expr("(sz + 1) div 2"))
        .select(col("event_type"), col("sz").cast("long").as("sample_n"),
          col("cents").as("est_median_cents"))
      val exact = graft.ops.StatsOps.weightedMedian(
          ev.groupBy("event_type", "cents").agg(count(lit(1)).as("cnt")),
          "event_type", "cents", "cnt")
        .select(col("event_type"), col("total_weight").as("n"),
          col("wmedian").as("true_median_cents"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n"), col("sample_n"),
          col("est_median_cents"), col("true_median_cents"),
          abs(col("est_median_cents") - col("true_median_cents")).as("err_cents"))
        .orderBy("event_type")
    }),

    // IVF over TRAINED centroids — the real index-BUILD path: the coarse
    // quantizer is not the raw seed set but the k-means-updated model
    // (kmTrainedCentroids = one exact-integer Lloyd step), buckets are
    // re-assigned against it, and queries 2-probe it for top-5 search.
    // Composing train → assign → probe → search in one plan is what an
    // IVF index build does at 100 TB; every stage is a broadcast of the
    // constant-size centroid set + rank windows with map-side
    // WindowGroupLimit, candidates stay a bucket equi-join.
    "ann_ivf_trained" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val cent1 = kmTrainedCentroids(s, d)
      val assign = kmAssign(e.filter(col("vec_id") >= 8), cent1)
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pw = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val probes = q.crossJoin(broadcast(cent1))
        .withColumn("c_cos", VectorOps.cosine(col("qv"), col("cv")))
        .withColumn("prank", row_number().over(pw))
        .filter(col("prank") <= 2)
        .select(col("q_id"), col("qv"), col("c_id").as("bucket"))
      val rw = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id").asc)
      probes.join(assign, "bucket")
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cosine", VectorOps.cosine(col("qv"), col("v")))
        .withColumn("rnk", row_number().over(rw).cast("long"))
        .filter(col("rnk") <= 5)
        .select("q_id", "vec_id", "bucket", "cosine", "rnk")
        .orderBy("q_id", "rnk")
    }),

    // VERSIONED ANN INDEX through the lake layer: both the corpus and the
    // IVF centroid set are TxLog tables, and the search reads a PINNED
    // (corpus version, index version) pair — time travel on BOTH sides of
    // one query. Pair 1 = seed quantizer over the v1 corpus; pair 2 = the
    // atomically-overwritten trained quantizer over the appended head.
    // This is what makes index rebuilds safe at 100 TB: a search that
    // resolved pair 1 keeps its segment lists while OPTIMIZE/retrain
    // overwrites the index table under it (snapshot isolation — the
    // torn-read impossibility is pinned in TxLogSpec), and an index
    // version is provably consistent with the corpus version it indexed.
    "ann_index_versioned" -> ((s, d) => {
      val (tc, ti) = annTxTables(s, d)
      def searchAt(v: Long): DataFrame = {
        val corpus = graft.ops.TxLog.snapshot(s, tc, Some(v))
        val cents = graft.ops.TxLog.snapshot(s, ti, Some(v))
          .select(col("c_id"), col("cv"))
        val q = corpus.filter(col("vec_id") >= 8 && col("vec_id") < 13)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val pw = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
        val probes = q.crossJoin(broadcast(cents))
          .withColumn("c_cos", VectorOps.cosine(col("qv"), col("cv")))
          .withColumn("prank", row_number().over(pw))
          .filter(col("prank") <= 2)
          .select(col("q_id"), col("qv"), col("c_id").as("bucket"))
        val assign = kmAssign(corpus, cents)
        val rw = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id").asc)
        probes.join(assign, "bucket")
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cosine", VectorOps.cosine(col("qv"), col("v")))
          .withColumn("rnk", row_number().over(rw).cast("long"))
          .filter(col("rnk") <= 3)
          .select(lit(v).as("idx_version"), col("q_id"), col("vec_id"),
            col("bucket"), col("cosine"), col("rnk"))
      }
      searchAt(1L).unionByName(searchAt(2L))
        .orderBy("idx_version", "q_id", "rnk")
    }),

    // INCREMENTAL ANN index maintenance — the real pipeline shape at
    // 100 TB, where vectors arrive in micro-batches and a full index
    // rebuild per batch is unaffordable: the batch is assigned against
    // the COMMITTED centroids (snapshot-read, never retrained) and ONLY
    // its codes are appended to the codes log (one append; zero existing
    // code segments rewritten — geometry pinned in RetrievalSpec). The
    // search probes the index head + the union codes, fetching vectors
    // by a vec_id equi-join for exact rerank (an IVF index stores ids,
    // not vectors). Assignment is a pure per-vector function of the
    // committed quantizer, so union-of-appends ≡ full reassignment of
    // the union corpus — exactly what the oracle computes closed-form.
    "ann_index_incremental" -> ((s, d) => {
      val (tc, ti, tk) = annIncrTables(s, d)
      val corpus = graft.ops.TxLog.snapshot(s, tc)       // base ∪ batch
      val cents = graft.ops.TxLog.snapshot(s, ti)
        .select(col("c_id"), col("cv"))
      val codes = graft.ops.TxLog.snapshot(s, tk)        // codes v1 ∪ v2
      val q = corpus.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pw = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val probes = q.crossJoin(broadcast(cents))
        .withColumn("c_cos", VectorOps.cosine(col("qv"), col("cv")))
        .withColumn("prank", row_number().over(pw))
        .filter(col("prank") <= 2)
        .select(col("q_id"), col("qv"), col("c_id").as("bucket"))
      val rw = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id").asc)
      probes.join(codes, "bucket")
        .filter(col("q_id") =!= col("vec_id"))
        .join(corpus.select(col("vec_id"), col("v")), "vec_id")
        .withColumn("cosine", VectorOps.cosine(col("qv"), col("v")))
        .withColumn("rnk", row_number().over(rw).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("vec_id"), col("bucket"), col("cosine"), col("rnk"))
        .orderBy("q_id", "rnk")
    }),

    // Numeric masking/redaction: every digit run in the payload replaced
    // with a mask plus a redaction count — the PII-scrub shape (the same
    // regexp_replace machinery applies to email/phone/SSN patterns). Pure
    // codegen'd map work; no shuffle.
    "text_redact_mask" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
          expr("CAST(regexp_count(props, '[0-9]+') AS BIGINT)").as("n_masked"))
        .orderBy("event_id")),

    // Repetition detection: per-document duplicate-token and top-token
    // ratios in exact milli-units — the standard boilerplate/spam quality
    // signal. Two hash aggregations, both with partial combine; the first
    // is keyed (doc_id, token) so hot documents don't skew a single key.
    "text_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum("n").as("n_tok"), count(lit(1)).as("n_distinct"), max("n").as("max_tok_freq"))
        .select(col("doc_id"), col("n_tok"), col("n_distinct"), col("max_tok_freq"),
          expr("(n_tok - n_distinct) * 1000 div n_tok").as("rep_milli"),
          expr("max_tok_freq * 1000 div n_tok").as("top_milli"))
        .orderBy("doc_id")),

    // OUT-OF-VOCABULARY rate — tokenizer-coverage screening: the vocabulary
    // is every token holding ≥ 1/32 of corpus token mass (an integer mass
    // compare, so no top-k tie nondeterminism), built in one aggregate and
    // broadcast back onto the exploded tokens; each doc reports its token
    // count, OOV count and OOV rate in milli. At 100 TB the vocab stays a
    // broadcast (mass-threshold caps it at ≤ 32 entries by construction)
    // and the per-doc rollup is the only shuffle.
    "text_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      val tot = freq.agg(sum("n").as("n_total"))
      val vocab = freq.crossJoin(broadcast(tot))
        .filter(col("n") * 32 >= col("n_total"))
        .select(col("tok"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_milli", expr("n_oov * 1000 div n_tok"))
        .orderBy("doc_id")
    }),

    // Length histogram: 100-char buckets with an overflow bucket — the
    // corpus-profiling sweep that sizes chunking/truncation decisions.
    // Integer bucket arithmetic (no width_bucket float edges).
    "doc_len_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .select(expr("least(n_chars div 100, 19)").as("bucket"), col("n_chars"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("bucket")),

    // EQUI-DEPTH length histogram — the quantile-bucket twin of
    // doc_len_histogram's fixed-width buckets (skewed length
    // distributions put 90% of docs in one fixed bucket; deciles always
    // balance). Decile assignment is deterministic (unique (n_chars,
    // doc_id) tiebreak) and computed as ntile arithmetic over
    // StatsOps.groupedRowNumber — a per-lang WINDOW would run the whole
    // corpus through |langs| tasks (the stats_spearman ceiling,
    // VERDICT r9); the range-partitioned rank scales with the cluster.
    "histogram_equi_depth" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"), col("doc_id"))
      // r17 (guide §2.4/§6): group size from the engine's own pass-1
      // counts (WithCount) instead of a second scan + broadcast join —
      // same move as win_ntile_dist.
      graft.ops.StatsOps.groupedRowNumberWithCount(base, "lang",
          Seq("n_chars", "doc_id"), "rn", "n")
        .withColumn("decile", expr(
          """CASE WHEN rn <= (n % 10) * (n div 10 + 1)
            |  THEN (rn - 1) div (n div 10 + 1) + 1
            |  ELSE (n % 10) + (rn - 1 - (n % 10) * (n div 10 + 1)) div (n div 10) + 1
            |END""".stripMargin.replaceAll("\n", " ")))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"))
        .orderBy("lang", "decile")
    }),

    // Inverted index (token -> posting list) — the retrieval-side build
    // step BM25 ranking assumes. Per-token document frequency plus the
    // first-8 posting head; the head is ranked BEFORE collecting
    // (row_number <= 8 riding the same exchange as the df count), so no
    // task ever buffers a stop-word's full posting list — per-group state
    // is O(8) at any corpus size.
    "text_inverted_index" -> ((s, d) => {
      val td = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 3)
        .distinct()
      val w = Window.partitionBy("tok").orderBy("doc_id")
      td.withColumn("rn", row_number().over(w))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
        .filter(col("df") >= 20 && col("rn") <= 8)
        .groupBy(col("tok"), col("df"))
        .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings_head"))
        .orderBy("tok")
    }),

    // Benchmark-contamination check: candidate docs that share ≥3 distinct
    // 5-gram shingles with a held-out benchmark set (docs 0–4 stand in).
    // The overlap is an equi-join on the shingle hash — scales to a
    // benchmark set of any size (no broadcast assumption, no all-pairs) —
    // followed by a distinct-count per candidate doc.
    "contamination_ngram" -> ((s, d) => {
      // the SHARED persisted 5-gram relation (LlmQueries.gram5Hashes):
      // it feeds both join sides here AND text_fingerprint's aggregate,
      // so the corpus is shingled+hashed once per (session, dir)
      val grams = LlmQueries.gram5Hashes(s, d)
      val bench = grams.filter(col("doc_id") < 5).select("gh").distinct()
      grams.filter(col("doc_id") >= 5)
        .join(bench, "gh")
        .groupBy("doc_id")
        .agg(countDistinct(col("gh")).as("n_shared"))
        .withColumn("contaminated", col("n_shared") >= 3)
        .orderBy("doc_id")
    }),

    // Token-budget bin packing (sequence packing for training): within
    // each lang stream, docs are assigned to 1024-token bins by running
    // token count — no driver loop. The per-lang cumsum comes from
    // StatsOps.groupedRunningSum (range-partitioned prefix sums with
    // driver-side offsets): a window partitioned by the handful of langs
    // would run the corpus through |langs| tasks (VERDICT r9's
    // stats_spearman ceiling). A doc straddling a boundary opens the
    // next bin (budget binning, the distributed approximation of greedy
    // packing).
    "pack_token_bins" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.ops.StatsOps.groupedRunningSum(base, "lang", Seq("doc_id"),
          "n_tok", "cum")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(cum - n_tok) div 1024").as("bin"))
        .orderBy("doc_id")
    }),

    // Global top-20 bigrams: explode 2-gram shingles → count → top-k.
    // The final top-k is TakeOrderedAndProject (per-partition heads
    // merged on the driver), NOT a global sort — the only safe global
    // ranking shape at corpus scale.
    "text_ngram_top" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.wordShingles(TextOps.tokens(col("text")), 2)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram").asc)
        .limit(20)),

    // Collocation mining by Dice coefficient — the integer-exact
    // association score 2·c₁₂·1000 div (c₁+c₂) that serves PMI's phrase-
    // detection role without PMI's log (float log ordering is not
    // portable across engines; Dice is the word2phrase-style score and
    // needs only integer arithmetic). Unigram and bigram counts are one
    // hash aggregate over an exploded scan each; the marginals join back
    // on the WORD keys, so those joins shuffle the vocabulary, never the
    // corpus. A min-count floor prunes the noise tail before ranking and
    // the top-50 is TakeOrderedAndProject, not a global sort.
    // N-gram language-model quality filter (the CCNet/KenLM shape, here a
    // bigram LM with stupid backoff, Brants et al. 2007): train counts on
    // 90% of the corpus, score the held-out 10% — docs whose bigrams the
    // LM finds surprising (high negative log-likelihood) are the
    // low-quality/outlier candidates a real pipeline drops or buckets.
    // S(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen, else
    // 0.4 * add-one-smoothed unigram — unseen-everything still scores.
    // Scale: unigram/bigram counts are exploded-scan hash aggs (the
    // vocabulary shuffles, never the corpus); scoring joins are
    // token-keyed equi-joins of the test bigram stream; the (N, V)
    // normalizer is a broadcast 1-row frame. Per-bigram nats are rounded
    // to integer milli BEFORE the per-doc sum, so the result is
    // partition-order independent (float sums are not).
    "lm_stupid_backoff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val test = docs.filter(col("doc_id") % 10 === 0)
      val uni = train.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val nv = uni.agg(sum("c1").as("n_tok"), count(lit(1)).as("v_sz"))
      val bi = train.select(explode(TextOps.wordShingles(col("t"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c12"))
      test.select(col("doc_id"), explode(TextOps.wordShingles(col("t"), 2)).as("g"))
        .withColumn("w1", expr("split(g, ' ')[0]"))
        .withColumn("w2", expr("split(g, ' ')[1]"))
        .join(bi, Seq("g"), "left")
        .join(uni.select(col("w").as("w1"), col("c1").as("cw1")), Seq("w1"), "left")
        .join(uni.select(col("w").as("w2"), col("c1").as("cw2")), Seq("w2"), "left")
        .crossJoin(broadcast(nv))
        .withColumn("nll_milli", expr(
          """CAST(round(-ln(CASE WHEN c12 IS NOT NULL
            |  THEN CAST(c12 AS DOUBLE) / cw1
            |  ELSE 0.4 * (CAST(coalesce(cw2, 0) + 1 AS DOUBLE) / (n_tok + v_sz))
            |END) * 1000) AS BIGINT)""".stripMargin))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("nll_milli").as("nll_total_milli"))
        .withColumn("nll_avg_milli", expr("nll_total_milli div n_bigrams"))
        .orderBy("doc_id")
    }),

    "text_collocation_dice" -> ((s, d) => {
      val toks = Tables.documents(s, d).select(TextOps.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val bi = toks.select(explode(TextOps.wordShingles(col("t"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .withColumn("w1", expr("split(g, ' ')[0]"))
        .withColumn("w2", expr("split(g, ' ')[1]"))
      bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .select(col("g").as("bigram"), col("c12"), col("c1"), col("c2"),
          expr("c12 * 2000 div (c1 + c2)").as("dice_milli"))
        .orderBy(col("dice_milli").desc, col("bigram").asc)
        .limit(50)
    }),

    // Per-domain quota cap: keep at most 15 docs per source, chosen by a
    // deterministic pseudo-random order (portable md5-hash of doc_id, with
    // doc_id breaking hash ties) — the standard "no domain dominates the
    // mix" curation pass. The rn<=15 filter compiles to WindowGroupLimit,
    // so each map task keeps only its local top-15 per source before the
    // window shuffle — the shuffled volume is bounded by 15·|sources|
    // per task regardless of corpus size.
    "sample_domain_quota" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(TextOps.hash60(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 15)
        .select(col("doc_id"), col("lang"), col("source"), col("rn").cast("long").as("rn"))
        .orderBy("doc_id")
    }),

    // Temperature-based mixture resampling (alpha = 0.5): each language's
    // target share is proportional to sqrt(count), flattening the head
    // the way pre-training mixtures do. A doc survives when its portable
    // 60-bit hash, reduced to a uniform u in [0, 1e6), clears the
    // language's acceptance threshold. The comparison is a cross-
    // multiplied integer inequality — u·S·cnt < 1e6·B·isqrt — so no
    // float division can flip a row near the boundary in either engine
    // (isqrt = floor of the correctly-rounded sqrt of an exact integer,
    // identical in Spark and DuckDB). The product is evaluated in
    // DECIMAL(38,0): with u < 2^20, s_isqrt ~ 2^17·√langs and cnt up to
    // ~2^40 at 100 TB, u·S·cnt can pass 2^63 — Int64 would wrap silently
    // while DuckDB promotes to HUGEINT, diverging exactly at the
    // boundary. Decimal128 holds any u·S·cnt < 10^38 (cnt can reach
    // ~10^12 with room to spare) and matches DuckDB's promotion. Two
    // broadcast joins of constant-size aggregates; the fact scans once.
    "sample_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .withColumn("isqrt", expr("CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)"))
      val tot = byLang.agg(sum("isqrt").as("s_isqrt"))
      docs
        .join(broadcast(byLang), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("u", TextOps.hash60(col("doc_id").cast("string")) % 1000000L)
        .filter(expr("CAST(u AS DECIMAL(38,0)) * s_isqrt * cnt " +
          "< CAST(200000000 AS DECIMAL(38,0)) * isqrt"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Deterministic QUALITY-WEIGHTED sampling: priority = u div w where
    // u is the doc's portable 60-bit hash and w its quality weight
    // (stopword-hit count + 1) — the integer-exact cousin of
    // Efraimidis–Spirakis priority sampling (u^(1/w) would need float
    // pow; u div w keeps the same higher-weight ⇒ stochastically-smaller-
    // priority property with zero float risk). Keep the 50 lowest
    // priorities: higher-quality docs are proportionally likelier to
    // survive, yet the draw is a pure function of (doc_id, text) — any
    // engine, any rerun, same sample. Map work + one TakeOrdered top-k.
    "sample_weighted_priority" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          (size(filter(col("toks"), t => t.isin("the", "a", "of"))).cast("long") + 1L)
            .as("w"))
        .withColumn("u", TextOps.hash60(col("doc_id").cast("string")))
        .withColumn("priority", expr("u div w"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("lang"), col("w"), col("priority"))),

    // Deterministic 80/10/10 train/val/test split: the assignment is a
    // pure function of the doc's portable 60-bit hash (no RNG, no state),
    // so any worker — or a rerun months later — routes every document
    // identically, and adding documents never reshuffles existing ones.
    // Output is the per-(split, lang) audit: counts and char volume.
    // Map work + one low-cardinality hash agg.
    "split_train_val_test" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", TextOps.hash60(col("doc_id").cast("string")) % 100L)
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val"))
            .otherwise(lit("test")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .orderBy("split", "lang")),

    // Sliding-window token chunking (width 64, stride 32): the RAG /
    // context-window preprocessing step. sequence+posexplode fans each
    // doc into its chunk starts; slice materializes each overlapping
    // span. Pure codegen'd map work — output scales with corpus size but
    // never shuffles, and the explode keeps rows (not whole documents)
    // as the unit of parallelism downstream.
    "chunk_sliding_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .select(col("doc_id"), col("toks"),
          posexplode(expr("sequence(0L, greatest(n - 1L, 0L), 32L)")))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col").as("start"),
          expr("CAST(size(slice(toks, CAST(col + 1 AS INT), 64)) AS BIGINT)").as("n_tok"),
          expr("concat_ws(' ', slice(toks, CAST(col + 1 AS INT), 64))").as("chunk"))
        .orderBy("doc_id", "chunk_idx")),

    // HTML boilerplate stripping — the first pass over any web-crawl
    // corpus: drop tags, decode entities to whitespace, collapse runs.
    // Markup is synthesized deterministically around the corpus text
    // (the test tables carry plain text), and the round-trip boolean
    // proves strip(inject(text)) == text. Pure codegen'd map work.
    "text_strip_html" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("html",
          concat(lit("<p class=\"doc\"><span>"),
            regexp_replace(col("text"), " fast ", " <b>fast</b> "),
            lit("</span></p>&nbsp;<br/>")))
        .withColumn("clean",
          trim(regexp_replace(regexp_replace(regexp_replace(col("html"),
            "<[^>]+>", ""), "&[a-z]+;", " "), "  +", " ")))
        .select(col("doc_id"),
          length(col("html")).cast("long").as("html_len"),
          length(col("clean")).cast("long").as("clean_len"),
          (col("clean") === col("text")).as("roundtrip_ok"))
        .orderBy("doc_id")),

    // Sentence segmentation + per-sentence stats: split on a delimiter
    // token, then min/max/total token counts per document via array
    // lambdas — no explode, no shuffle, one row in → one row out, which
    // is the shape that survives 100 TB (the exploded alternative
    // multiplies the shuffle input by mean sentence count).
    "text_sentence_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("sents", split(col("text"), " a "))
        .withColumn("lens", expr("transform(sents, x -> size(split(x, ' ')))"))
        .select(col("doc_id"),
          size(col("sents")).cast("long").as("n_sent"),
          expr("CAST(aggregate(lens, 0, (acc, v) -> acc + v) AS BIGINT)").as("tot_toks"),
          expr("CAST(array_max(lens) AS BIGINT)").as("max_toks"),
          expr("CAST(array_min(lens) AS BIGINT)").as("min_toks"))
        .orderBy("doc_id")),

    // One BPE merge iteration — the tokenizer-TRAINING step, distributed:
    // word-frequency table (one shuffle on the word), adjacent symbol-pair
    // counts weighted by word frequency (map-side explode of 2-char
    // windows, hash agg), argmax pair (single-row TakeOrdered, broadcast
    // back), then the merge applied corpus-wide with exact replacement
    // accounting. pair_count counts overlapping occurrences (faithful to
    // the classic BPE counting pass); n_replacements counts the
    // non-overlapping left-to-right rewrites replace() performs — both
    // reported. Iterating = repeating this plan with the fused symbol.
    "bpe_merge_iter" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(length(col("w")) >= 2)
      val top1 = words
        .select(col("w"), col("cnt"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair")
        .agg(sum("cnt").as("pair_count"), countDistinct("w").as("n_words"))
        .orderBy(col("pair_count").desc, col("pair").asc)
        .limit(1)
      words.crossJoin(broadcast(top1))
        .agg(max("pair").as("pair"), max("pair_count").as("pair_count"),
          max("n_words").as("n_words"),
          sum((length(col("w")) - length(expr("replace(w, pair, '#')")))
            * col("cnt")).as("n_replacements"),
          sum(length(col("w")) * col("cnt")).as("symbols_before"),
          (sum(length(col("w")) * col("cnt"))
            - sum((length(col("w")) - length(expr("replace(w, pair, '#')")))
              * col("cnt"))).as("symbols_after"))
    }),

    // BPE ENCODE — the tokenizer-APPLICATION pass that bpe_merge_iter's
    // training step feeds: 4 merges learned iteratively on the word-
    // frequency table (merge k+1 counted AFTER merges 1..k applied — the
    // real BPE training loop, unrolled), then the corpus tokenized with
    // them and every symbol mapped to its id in the final vocabulary.
    // The separator representation (\u0001 before every symbol) makes one
    // left-to-right replace() exactly equal to BPE's non-overlapping
    // leftmost pair merge, so the whole encode is engine-portable string
    // algebra — the DuckDB oracle unrolls the identical 4 replaces.
    // Scale: training runs on the VOCABULARY (each iteration scratch-
    // materialized, so cost is linear in iterations, not 2^k lineage);
    // the corpus pass is one explode + equi-join vocab→doc and one hash
    // agg. Output: per-doc whitespace vs BPE token counts + the token-id
    // checksum that pins the exact tokenization (pack_token_bins packs on
    // these counts downstream).
    "bpe_encode" -> ((s, d) => bpeDocTokens(s, d).orderBy("doc_id")),

    // The packing pass fed by REAL token ids: same greedy 1024-token
    // sequential binning as pack_token_bins, but weighted by the BPE
    // token counts the 4 learned merges produce instead of whitespace
    // counts — the actual pretraining-batch packing input. The encode
    // runs once (scratch vocab artifacts shared with bpe_encode); this
    // query adds only the doc-dimension window.
    "pack_token_bins_bpe" -> ((s, d) => {
      val base = bpeDocTokens(s, d)
        .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_bpe_tokens").as("n_tok"))
      // per-lang cumsum via groupedRunningSum, same rationale as
      // pack_token_bins (no constant-cardinality window partitions)
      graft.ops.StatsOps.groupedRunningSum(base, "lang", Seq("doc_id"),
          "n_tok", "cum")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(cum - n_tok) div 1024").as("bin"))
        .orderBy("doc_id")
    }),

    // PII detection — the compliance scan every corpus needs before
    // training: regex detectors for email- and phone-shaped spans,
    // aggregated per source (counts + how many docs carry any hit).
    // PII is injected deterministically (the corpus is synthetic), so
    // the detectors have real positives to find. Pure map work + one
    // low-cardinality hash agg; the redaction twin is text_redact_mask.
    "text_pii_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("txt",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" contact_user"), col("doc_id"),
              lit("@example.com")))
            .when(col("doc_id") % 13 === 0,
              concat(col("text"), lit(" call 555-01"),
                lpad((col("doc_id") % 100).cast("string"), 2, "0")))
            .otherwise(col("text")))
        .select(col("source"),
          expr("regexp_count(txt, '[a-z0-9_]+@[a-z0-9.]+[a-z]')")
            .cast("long").as("n_email"),
          expr("regexp_count(txt, '[0-9]{3}-[0-9]{4}')")
            .cast("long").as("n_phone"))
        .groupBy("source")
        .agg(sum("n_email").as("n_email"), sum("n_phone").as("n_phone"),
          count(when(col("n_email") + col("n_phone") > 0, 1)).as("n_docs_pii"))
        .orderBy("source")),

    // K-ANONYMITY AUDIT with generalize-then-suppress — the privacy gate
    // a dataset passes before release: no quasi-identifier combination
    // may isolate fewer than k=5 records. Level 0 keys on
    // (nation, segment, $2k-balance-bucket); records in undersized groups
    // re-key on the GENERALIZED (region = nation div 5, segment, bucket);
    // still-undersized groups are fully suppressed ('*'). All three
    // outcomes are live at sf0.01 (365 / 1112 / 23 rows). Balance cents
    // shift +100000 before bucketing so the value is non-negative —
    // Spark's `div` truncates toward zero while DuckDB's `//` floors, and
    // on non-negatives they agree. Shape: two bounded window counts over
    // QI partitions and one final hash agg — no joins, no global window;
    // sum_ids is the membership checksum (equal counts with different
    // members still fail the gate).
    "privacy_k_anon" -> ((s, d) => {
      val base = Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 200000")
          .as("bk"))
      val l0 = base.withColumn("n0", count(lit(1)).over(
        Window.partitionBy("c_nationkey", "c_mktsegment", "bk")))
      val pass0 = l0.filter(col("n0") >= 5).select(
        lit(0L).as("level"),
        concat(lit("nation:"), col("c_nationkey")).as("qi_geo"),
        col("c_mktsegment").as("qi_seg"),
        concat(lit("bal2k:"), col("bk")).as("qi_bal"),
        col("c_custkey"))
      val l1 = l0.filter(col("n0") < 5)
        .withColumn("region", expr("c_nationkey div 5"))
        .withColumn("n1", count(lit(1)).over(
          Window.partitionBy("region", "c_mktsegment", "bk")))
      val pass1 = l1.filter(col("n1") >= 5).select(
        lit(1L).as("level"),
        concat(lit("region:"), col("region")).as("qi_geo"),
        col("c_mktsegment").as("qi_seg"),
        concat(lit("bal2k:"), col("bk")).as("qi_bal"),
        col("c_custkey"))
      val supp = l1.filter(col("n1") < 5).select(
        lit(2L).as("level"), lit("*").as("qi_geo"), lit("*").as("qi_seg"),
        lit("*").as("qi_bal"), col("c_custkey"))
      pass0.unionAll(pass1).unionAll(supp)
        .groupBy("level", "qi_geo", "qi_seg", "qi_bal")
        .agg(count(lit(1)).as("n_rows"), sum("c_custkey").as("sum_ids"))
        .orderBy("level", "qi_geo", "qi_seg", "qi_bal")
    }),

    // L-DIVERSITY audit — the release gate ONE STEP PAST k-anonymity: a
    // QI group that is large enough (k) can still leak if everyone in it
    // shares the same sensitive value, so each (nation, segment) group
    // must also hold ≥ 3 distinct balance buckets AND no single bucket
    // may hold a majority (the "well-represented" check). Two cascaded
    // hash aggregates, both with map-side partials; the sensitive
    // attribute never leaves aggregate form.
    "privacy_l_diversity" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 200000")
            .as("bk"))
        .groupBy("c_nationkey", "c_mktsegment", "bk")
        .agg(count(lit(1)).as("nb"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(sum("nb").as("n_rows"), count(lit(1)).as("l_distinct"),
          max("nb").as("top_sens"))
        .withColumn("release_ok",
          col("l_distinct") >= 3 && col("top_sens") * 2 <= col("n_rows"))
        .orderBy("c_nationkey", "c_mktsegment")),

    // Deterministic class rebalancing: every language downsampled to the
    // minority class's count by hash-order rank — the bias-control step
    // before training, reproducible on any engine and stable under
    // reruns. The per-class quota is data-dependent (broadcast single
    // row), so the rank filter can't constant-prune map-side like the
    // fixed-quota sampler; the window is still one shuffle on lang.
    // sum_ids is the selection checksum: equal counts with different
    // members would still fail the gate.
    "sample_class_balance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .withColumn("h", TextOps.hash60(col("doc_id").cast("string")))
      val minCnt = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .agg(min("cnt").as("min_cnt"))
      // data-dependent quota → the rank filter can't constant-prune
      // map-side, so a per-lang WINDOW would walk the whole corpus in
      // |langs| tasks; groupedRowNumber keeps rank assignment
      // cluster-parallel (VERDICT r9)
      graft.ops.StatsOps.groupedRowNumber(docs, "lang", Seq("h", "doc_id"), "rn")
        .crossJoin(broadcast(minCnt))
        .filter(col("rn") <= col("min_cnt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // TEMPERATURE-BASED MIXTURE SCHEDULE (multilingual-LM sampling, T=0.5):
    // per-source weights ∝ sqrt(n_tokens) flatten the source distribution
    // so low-resource sources are not drowned, and the plan emits each
    // source's sampling share (ppm), its token allocation out of a 100k
    // budget, and the implied epoch count (milli) — the "how many times
    // does each source repeat" table a data-mixing run is driven by.
    // Integer-exact despite the sqrt: IEEE-754 sqrt is CORRECTLY ROUNDED
    // (unlike log/pow), so floor(sqrt(double)) of an exact integer < 2^52
    // is the true integer square root on every engine. One corpus scan,
    // one 20-row aggregate, broadcast total.
    "sample_mix_schedule" -> ((s, d) => {
      val src = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
        .withColumn("wgt", floor(sqrt(col("n_toks").cast("double"))).cast("long"))
      val tot = src.agg(sum("wgt").as("wsum"))
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_toks"), col("wgt"),
          expr("(wgt * 1000000) div wsum").as("share_ppm"),
          expr("(100000 * wgt) div wsum").as("planned_toks"))
        .withColumn("epochs_milli", expr("(planned_toks * 1000) div n_toks"))
        .orderBy("source")
    }),

    // URL canonicalization — the dedup key for crawl data: scheme/host
    // lowercased, www. and query/fragment stripped, trailing slash
    // dropped, then grouped to show variant URLs collapsing to one
    // canonical form. URLs synthesized deterministically per doc; the
    // regex chain is the operator under test. Map work + one hash agg.
    "url_canonicalize" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("url",
          concat(lit("HTTP://WWW.Site"), (col("doc_id") % 7).cast("string"),
            lit(".COM/"), col("source"), lit("/page"), (col("doc_id") % 3).cast("string"),
            when(col("doc_id") % 2 === 0, lit("/?utm_source=x&id=9"))
              .otherwise(lit("#frag"))))
        .withColumn("nofrag", regexp_replace(col("url"), "[?#].*$", ""))
        .withColumn("host",
          regexp_replace(lower(regexp_extract(col("nofrag"), "^[A-Za-z]+://([^/]+)", 1)),
            "^www\\.", ""))
        .withColumn("path",
          regexp_replace(regexp_extract(col("nofrag"), "^[A-Za-z]+://[^/]+(/.*)?$", 1),
            "/$", ""))
        .withColumn("canon", concat(lit("https://"), col("host"), col("path")))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("canon")),

    // PREFERENCE AGGREGATION — Bradley–Terry strength per source
    // (Zermelo's fixed point, the model under reward-data curation and
    // arena-style rankings): the shared game log pairs docs and scores
    // a quality "annotator" (stopword-density milli, the text_quality
    // signal); wins aggregate to a ≤|sources|² count matrix, and THREE
    // fixed-point rounds p'_i = W_i / Σ_j N_ij/(p_i+p_j) run entirely on
    // that matrix — the corpus shuffles once into the game log, the
    // model iterations are metadata-sized joins. Integer milli/micro
    // quantization after every division keeps the chain oracle-exact at
    // any parallelism.
    "pref_bradley_terry" -> ((s, d) => {
      val cnt = prefGames(s, d)
        .select(when(col("lo_wins_q"), col("src_lo")).otherwise(col("src_hi")).as("win"),
          when(col("lo_wins_q"), col("src_hi")).otherwise(col("src_lo")).as("lose"))
        .groupBy("win", "lose").agg(count(lit(1)).as("n"))
      val np = cnt.select(col("win").as("i"), col("lose").as("j"), col("n"))
        .unionByName(cnt.select(col("lose").as("i"), col("win").as("j"), col("n")))
        .groupBy("i", "j").agg(sum("n").as("n"))
      val wins = cnt.groupBy("win").agg(sum("n").as("w")).withColumnRenamed("win", "i")
      val items = np.select("i").distinct()
      var p = items.withColumn("p", lit(1000L))
      for (_ <- 1 to 3) {
        val pI = p.select(col("i"), col("p").as("p_i"))
        val pJ = p.select(col("i").as("j"), col("p").as("p_j"))
        val den = np.join(pI, "i").join(pJ, "j")
          .select(col("i"), expr("(n * 1000000) div greatest(p_i + p_j, 1)").as("term"))
          .groupBy("i").agg(sum("term").as("den"))
        p = items.join(wins, Seq("i"), "left").join(den, Seq("i"), "left")
          .select(col("i"),
            expr("(coalesce(w, 0) * 1000000) div greatest(den, 1)").as("p"))
      }
      p.select(col("i").as("source"), col("p").as("bt_milli")).orderBy("source")
    }),

    // ANNOTATOR AGREEMENT — Cohen's kappa between the quality annotator
    // and a length annotator over the same preference pairs (the QA gate
    // run before trusting a labeling source). One pass over the shared
    // game log reduces to four counts; po/pe/kappa are closed-form
    // integer milli (the negative-kappa branch divides magnitudes so
    // Spark's truncating `div` and DuckDB's flooring `//` agree).
    "pref_annotator_kappa" -> ((s, d) =>
      prefGames(s, d)
        .agg(count(lit(1)).as("n_games"),
          sum(when(col("lo_wins_q") === col("lo_wins_len"), 1L).otherwise(0L)).as("agree_n"),
          sum(when(col("lo_wins_q"), 1L).otherwise(0L)).as("a_lo"),
          sum(when(col("lo_wins_len"), 1L).otherwise(0L)).as("b_lo"))
        .withColumn("po_milli", expr("(agree_n * 1000) div n_games"))
        .withColumn("pe_milli",
          expr("((a_lo * b_lo + (n_games - a_lo) * (n_games - b_lo)) * 1000)" +
            " div (n_games * n_games)"))
        .select(col("n_games"), col("agree_n"), col("po_milli"), col("pe_milli"),
          expr("""CASE WHEN po_milli >= pe_milli
                 |  THEN ((po_milli - pe_milli) * 1000) div greatest(1000 - pe_milli, 1)
                 |  ELSE -(((pe_milli - po_milli) * 1000) div greatest(1000 - pe_milli, 1))
                 |END""".stripMargin).as("kappa_milli"))),
  )

  /** Shared PREFERENCE game log, scratch-materialized (one corpus pass
    * feeds both pref queries): docs pair by `doc_id div 2` — a single
    * hash aggregation, never a self-join — keeping only complete
    * cross-source buckets. Each game carries two deterministic
    * "annotator" verdicts for the LOWER doc: quality (stopword-density
    * milli ≥, ties to the lower id) and length. At 100 TB the log is
    * corpus/2 rows of four tiny columns; everything downstream
    * aggregates it to per-source or scalar counts.
    */
  private def prefGames(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("pref_games", s, d) {
      val scored = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), col("source"), expr("doc_id div 2").as("pid"),
          length(col("text")).cast("long").as("len"),
          size(filter(col("toks"), t => t.isin("the", "a", "of")))
            .cast("long").as("hits"),
          size(col("toks")).cast("long").as("ntok"))
        .withColumn("sc", expr("(hits * 1000) div ntok"))
      scored.groupBy("pid")
        .agg(count(lit(1)).as("c"),
          expr("min_by(source, doc_id)").as("src_lo"),
          expr("max_by(source, doc_id)").as("src_hi"),
          expr("min_by(sc, doc_id)").as("sc_lo"),
          expr("max_by(sc, doc_id)").as("sc_hi"),
          expr("min_by(len, doc_id)").as("len_lo"),
          expr("max_by(len, doc_id)").as("len_hi"))
        .filter(col("c") === 2 && col("src_lo") =!= col("src_hi"))
        .select(col("src_lo"), col("src_hi"),
          (col("sc_lo") >= col("sc_hi")).as("lo_wins_q"),
          (col("len_lo") >= col("len_hi")).as("lo_wins_len"))
    }


  /** Oracle twin of [[prefGames]]: the game-log CTE both pref oracles
    * share (scoring identical to text_quality's oracle).
    */
  private val prefGamesSql: String =
    """t AS (SELECT doc_id, source, doc_id // 2 AS pid,
      |    CAST(length(text) AS BIGINT) AS len,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS hits,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |sc AS (SELECT doc_id, source, pid, len, (hits * 1000) // ntok AS sc FROM t),
      |pr AS (SELECT pid, COUNT(*) AS c,
      |    arg_min(source, doc_id) AS src_lo, arg_max(source, doc_id) AS src_hi,
      |    arg_min(sc, doc_id) AS sc_lo, arg_max(sc, doc_id) AS sc_hi,
      |    arg_min(len, doc_id) AS len_lo, arg_max(len, doc_id) AS len_hi
      |  FROM sc GROUP BY 1),
      |games AS (SELECT
      |    CASE WHEN sc_lo >= sc_hi THEN src_lo ELSE src_hi END AS win,
      |    CASE WHEN sc_lo >= sc_hi THEN src_hi ELSE src_lo END AS lose,
      |    (sc_lo >= sc_hi) AS lo_wins_q, (len_lo >= len_hi) AS lo_wins_len
      |  FROM pr WHERE c = 2 AND src_lo <> src_hi)""".stripMargin

  val oracle: Map[String, String] = Map(
    "kmeans_iter" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent WHERE e.vec_id >= 8) t WHERE arank = 1),
         |x AS (SELECT bucket, unnest(range(0, len(v))) AS pos, unnest(v) AS val FROM assign)
         |SELECT bucket, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(round(val*1000000) AS BIGINT)) AS BIGINT) AS sum_micro
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Two Lloyd iterations: iteration-2 centroids rebuilt from iteration
    // 1's floor-divided integer-micro means. DuckDB's `//` TRUNCATES
    // toward zero (like Spark's `div`), so the same floor CASE appears
    // on both sides.
    "linalg_gram_matrix" ->
      """WITH e AS (SELECT embedding AS v FROM embeddings WHERE vec_id >= 8),
        |ii AS (SELECT unnest(range(0, 64)) AS i),
        |jj AS (SELECT unnest(range(0, 64)) AS j),
        |t AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |    CAST(round(v[CAST(i + 1 AS INT)] * 1000) AS BIGINT)::HUGEINT
        |      * CAST(round(v[CAST(j + 1 AS INT)] * 1000) AS BIGINT) AS prod
        |  FROM e CROSS JOIN ii CROSS JOIN jj WHERE j >= i)
        |SELECT i, j, COUNT(*) AS n, CAST(SUM(prod) AS BIGINT) AS gram_milli2
        |FROM t GROUP BY 1, 2 ORDER BY i, j""".stripMargin,
    "linalg_power_iteration" -> {
      def round(i: Int): String =
        s"""y$i AS (SELECT f.i, SUM(gram_milli2::HUGEINT * x) AS y
           |  FROM fullg f JOIN x${i - 1} xv ON f.j = xv.j GROUP BY 1),
           |x$i AS (SELECT i AS j,
           |    CAST((y * 1000) // (SELECT MAX(y) FROM y$i) AS BIGINT) AS x
           |  FROM y$i)""".stripMargin
      s"""WITH e AS (SELECT embedding AS v FROM embeddings WHERE vec_id >= 8),
         |ii AS (SELECT unnest(range(0, 64)) AS i),
         |jj AS (SELECT unnest(range(0, 64)) AS j),
         |t AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |    CAST(round(v[CAST(i + 1 AS INT)] * 1000) AS BIGINT)::HUGEINT
         |      * CAST(round(v[CAST(j + 1 AS INT)] * 1000) AS BIGINT) AS prod
         |  FROM e CROSS JOIN ii CROSS JOIN jj WHERE j >= i),
         |up AS (SELECT i, j, CAST(SUM(prod) AS BIGINT) AS gram_milli2
         |  FROM t GROUP BY 1, 2),
         |fullg AS (SELECT i, j, gram_milli2 FROM up
         |  UNION ALL SELECT j, i, gram_milli2 FROM up WHERE i <> j),
         |x0 AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS j,
         |    CAST(1000 AS BIGINT) AS x),
         |${(1 to 6).map(round).mkString(",\n")}
         |SELECT j AS i, x AS eigvec_milli FROM x6 ORDER BY i""".stripMargin
    },
    "linalg_pca_project" -> {
      def round(i: Int): String =
        s"""y$i AS (SELECT f.i, SUM(gram_milli2::HUGEINT * x) AS y
           |  FROM fullg f JOIN x${i - 1} xv ON f.j = xv.j GROUP BY 1),
           |x$i AS (SELECT i AS j,
           |    CAST((y * 1000) // (SELECT MAX(y) FROM y$i) AS BIGINT) AS x
           |  FROM y$i)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id >= 8),
         |ii AS (SELECT unnest(range(0, 64)) AS i),
         |jj AS (SELECT unnest(range(0, 64)) AS j),
         |t AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |    CAST(round(v[CAST(i + 1 AS INT)] * 1000) AS BIGINT)::HUGEINT
         |      * CAST(round(v[CAST(j + 1 AS INT)] * 1000) AS BIGINT) AS prod
         |  FROM e CROSS JOIN ii CROSS JOIN jj WHERE j >= i),
         |up AS (SELECT i, j, CAST(SUM(prod) AS BIGINT) AS gram_milli2
         |  FROM t GROUP BY 1, 2),
         |fullg AS (SELECT i, j, gram_milli2 FROM up
         |  UNION ALL SELECT j, i, gram_milli2 FROM up WHERE i <> j),
         |x0 AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS j,
         |    CAST(1000 AS BIGINT) AS x),
         |${(1 to 6).map(round).mkString(",\n")},
         |comp AS (SELECT vec_id, CAST(jc AS BIGINT) AS j,
         |    CAST(round(v[CAST(jc + 1 AS INT)] * 1000) AS BIGINT) AS c
         |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS jc))
         |SELECT vec_id, CAST(SUM(c::HUGEINT * x) AS BIGINT) AS score_milli2
         |FROM comp JOIN x6 USING (j)
         |GROUP BY 1 ORDER BY score_milli2 DESC, vec_id LIMIT 10""".stripMargin
    },
    "sample_bottomk_median" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT *,
        |    ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM ev),
        |samp AS (SELECT event_type, event_id, cents FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY h, event_id) AS rn FROM h) t WHERE rn <= 64),
        |est AS (SELECT event_type, CAST(sz AS BIGINT) AS sample_n,
        |    cents AS est_median_cents FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS sz,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY cents, event_id) AS sr FROM samp) t
        |  WHERE sr = (sz + 1) // 2),
        |ex AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |    cents AS true_median_cents FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY cents, event_id) AS r FROM ev) t
        |  WHERE r = (n + 1) // 2)
        |SELECT est.event_type, n, sample_n, est_median_cents, true_median_cents,
        |  abs(est_median_cents - true_median_cents) AS err_cents
        |FROM est JOIN ex ON est.event_type = ex.event_type
        |ORDER BY est.event_type""".stripMargin,
    "ann_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent0 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |m1 AS (SELECT bucket, pos, CAST(SUM(micro) AS BIGINT) AS sm, COUNT(*) AS n FROM (
         |    SELECT bucket, unnest(range(0, len(v))) AS pos,
         |      CAST(round(unnest(v)*1000000) AS BIGINT) AS micro FROM a1) x0
         |  GROUP BY 1, 2),
         |cent1 AS (SELECT bucket AS c_id,
         |    list(CAST(CASE WHEN sm % n = 0 OR sm >= 0 THEN sm // n ELSE sm // n - 1 END
         |      AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
         |  FROM m1 GROUP BY 1),
         |a2 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent1 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |probes AS (SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${LlmQueries.cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q, cent1) t WHERE prank <= 2),
         |res AS (SELECT q_id, a.vec_id, a.bucket,
         |    ${LlmQueries.cosSql("qv", "a.v")} AS cosine
         |  FROM probes p JOIN a2 a ON p.bucket = a.bucket
         |  WHERE q_id <> a.vec_id)
         |SELECT q_id, vec_id, bucket, cosine, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk FROM res) t
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // The versioned-index search replays both consistent (corpus, index)
    // pairs closed-form: pair 1 = seed centroids over vectors [8, 300),
    // pair 2 = the one-Lloyd-step trained centroids (same derivation as
    // ann_ivf_trained) over the full corpus.
    "ann_index_versioned" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |c1 AS (SELECT vec_id, v FROM e WHERE vec_id >= 8 AND vec_id < 300),
         |a_v1 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT c1.vec_id, c1.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY c1.vec_id
         |        ORDER BY ${LlmQueries.cosSql("c1.v", "cv")} DESC, c_id) AS arank
         |    FROM c1, cent0) t WHERE arank = 1),
         |q1 AS (SELECT vec_id AS q_id, v AS qv FROM c1 WHERE vec_id < 13),
         |p1 AS (SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${LlmQueries.cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q1, cent0) t WHERE prank <= 2),
         |r1 AS (SELECT q_id, a.vec_id, a.bucket,
         |    ${LlmQueries.cosSql("qv", "a.v")} AS cosine
         |  FROM p1 p JOIN a_v1 a ON p.bucket = a.bucket
         |  WHERE q_id <> a.vec_id),
         |a1 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent0 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |m1 AS (SELECT bucket, pos, CAST(SUM(micro) AS BIGINT) AS sm, COUNT(*) AS n FROM (
         |    SELECT bucket, unnest(range(0, len(v))) AS pos,
         |      CAST(round(unnest(v)*1000000) AS BIGINT) AS micro FROM a1) x0
         |  GROUP BY 1, 2),
         |cent1 AS (SELECT bucket AS c_id,
         |    list(CAST(CASE WHEN sm % n = 0 OR sm >= 0 THEN sm // n ELSE sm // n - 1 END
         |      AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
         |  FROM m1 GROUP BY 1),
         |a_v2 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent1 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |q2 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |p2 AS (SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${LlmQueries.cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q2, cent1) t WHERE prank <= 2),
         |r2 AS (SELECT q_id, a.vec_id, a.bucket,
         |    ${LlmQueries.cosSql("qv", "a.v")} AS cosine
         |  FROM p2 p JOIN a_v2 a ON p.bucket = a.bucket
         |  WHERE q_id <> a.vec_id),
         |top1 AS (SELECT CAST(1 AS BIGINT) AS idx_version, q_id, vec_id, bucket, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk FROM r1),
         |top2 AS (SELECT CAST(2 AS BIGINT) AS idx_version, q_id, vec_id, bucket, cosine,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk FROM r2)
         |SELECT * FROM (SELECT * FROM top1 WHERE rnk <= 3
         |  UNION ALL SELECT * FROM top2 WHERE rnk <= 3)
         |ORDER BY idx_version, q_id, rnk""".stripMargin,
    // Full-rebuild reference for the incremental index: centroids = one
    // Lloyd step over the BASE corpus [8, 300) only (the committed,
    // never-retrained quantizer), assignment over the UNION corpus,
    // 2-probe + exact-rerank top-3 — which the incremental append path
    // must equal because per-vector assignment is pure in the centroids.
    "ann_index_incremental" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |base AS (SELECT vec_id, v FROM e WHERE vec_id >= 8 AND vec_id < 300),
         |ab AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT base.vec_id, base.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY base.vec_id
         |        ORDER BY ${LlmQueries.cosSql("base.v", "cv")} DESC, c_id) AS arank
         |    FROM base, cent0) t WHERE arank = 1),
         |mb AS (SELECT bucket, pos, CAST(SUM(micro) AS BIGINT) AS sm, COUNT(*) AS n FROM (
         |    SELECT bucket, unnest(range(0, len(v))) AS pos,
         |      CAST(round(unnest(v)*1000000) AS BIGINT) AS micro FROM ab) x0
         |  GROUP BY 1, 2),
         |cent1 AS (SELECT bucket AS c_id,
         |    list(CAST(CASE WHEN sm % n = 0 OR sm >= 0 THEN sm // n ELSE sm // n - 1 END
         |      AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
         |  FROM mb GROUP BY 1),
         |au AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent1 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |p AS (SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${LlmQueries.cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q, cent1) t WHERE prank <= 2),
         |res AS (SELECT q_id, a.vec_id, a.bucket,
         |    ${LlmQueries.cosSql("qv", "a.v")} AS cosine
         |  FROM p JOIN au a ON p.bucket = a.bucket
         |  WHERE q_id <> a.vec_id)
         |SELECT q_id, vec_id, bucket, cosine, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk FROM res) t
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "kmeans_iter2" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent0 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |m1 AS (SELECT bucket, pos, CAST(SUM(micro) AS BIGINT) AS sm, COUNT(*) AS n FROM (
         |    SELECT bucket, unnest(range(0, len(v))) AS pos,
         |      CAST(round(unnest(v)*1000000) AS BIGINT) AS micro FROM a1) x0
         |  GROUP BY 1, 2),
         |cent1 AS (SELECT bucket AS c_id,
         |    list(CAST(CASE WHEN sm % n = 0 OR sm >= 0 THEN sm // n ELSE sm // n - 1 END
         |      AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
         |  FROM m1 GROUP BY 1),
         |a2 AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent1 WHERE e.vec_id >= 8) t WHERE arank = 1),
         |x AS (SELECT bucket, unnest(range(0, len(v))) AS pos, unnest(v) AS val FROM a2)
         |SELECT bucket, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(round(val*1000000) AS BIGINT)) AS BIGINT) AS sum_micro
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_redact_mask" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM events ORDER BY event_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok,
        |    COUNT(*) AS n_distinct, MAX(n) AS max_tok_freq
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tok, n_distinct, max_tok_freq,
        |  (n_tok - n_distinct) * 1000 // n_tok AS rep_milli,
        |  max_tok_freq * 1000 // n_tok AS top_milli
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM f),
        |a AS (SELECT doc_id, COUNT(*) AS n_tok,
        |    CAST(COUNT(*) FILTER (tok NOT IN
        |      (SELECT tok FROM f WHERE n * 32 >= (SELECT n_total FROM tot)))
        |      AS BIGINT) AS n_oov
        |  FROM t GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_oov, n_oov * 1000 // n_tok AS oov_milli
        |FROM a ORDER BY doc_id""".stripMargin,
    "doc_len_histogram" ->
      """SELECT least(n_chars // 100, 19) AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "histogram_equi_depth" ->
      """WITH r AS (SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |SELECT lang, decile, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 3),
        |r AS (SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY tok) AS df
        |  FROM td)
        |SELECT tok, CAST(df AS BIGINT) AS df,
        |  string_agg(doc_id, ',' ORDER BY doc_id) AS postings_head
        |FROM r WHERE df >= 20 AND rn <= 8
        |GROUP BY 1, 2 ORDER BY tok""".stripMargin,
    "contamination_ngram" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id,
        |    ('0x'||substr(md5(unnest(list_transform(range(1, len(t)-3),
        |      i -> array_to_string(list_slice(t, i, i+4), ' ')))),1,15))::BIGINT AS gh
        |  FROM toks),
        |bench AS (SELECT DISTINCT gh FROM grams WHERE doc_id < 5)
        |SELECT g.doc_id, COUNT(DISTINCT g.gh) AS n_shared,
        |  COUNT(DISTINCT g.gh) >= 3 AS contaminated
        |FROM grams g JOIN bench b ON g.gh = b.gh
        |WHERE g.doc_id >= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pack_token_bins" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, lang, n_tok, CAST((cum - n_tok) // 1024 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_ngram_top" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> array_to_string(list_slice(t, i, i+1), ' '))) AS gram
        |  FROM toks)
        |SELECT gram, COUNT(*) AS n FROM grams GROUP BY 1
        |ORDER BY n DESC, gram ASC LIMIT 20""".stripMargin,
    "quality_logreg" ->
      """WITH feats AS (SELECT
        |    CASE WHEN instr(text, 'spark') > 0 THEN 1.0 ELSE 0.0 END AS y,
        |    least(length(text), 2000) / 2000.0 AS x1,
        |    (length(text) - length(translate(text, 'aeiou', '')))
        |      / CAST(greatest(length(text), 1) AS DOUBLE) AS x2
        |  FROM documents),
        |it0 AS (SELECT CAST(0 AS BIGINT) AS w0m, CAST(0 AS BIGINT) AS w1m,
        |  CAST(0 AS BIGINT) AS w2m),
        |s1 AS (SELECT y, x1, x2, w0m, w1m, w2m,
        |    1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0))) AS p
        |  FROM feats, it0),
        |it1 AS (SELECT
        |    CAST(MIN(w0m) - round(AVG((p - y) * 1.0) * 1000000) AS BIGINT) AS w0m,
        |    CAST(MIN(w1m) - round(AVG((p - y) * x1) * 1000000) AS BIGINT) AS w1m,
        |    CAST(MIN(w2m) - round(AVG((p - y) * x2) * 1000000) AS BIGINT) AS w2m
        |  FROM s1),
        |s2 AS (SELECT y, x1, x2, w0m, w1m, w2m,
        |    1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0))) AS p
        |  FROM feats, it1),
        |it2 AS (SELECT
        |    CAST(MIN(w0m) - round(AVG((p - y) * 1.0) * 1000000) AS BIGINT) AS w0m,
        |    CAST(MIN(w1m) - round(AVG((p - y) * x1) * 1000000) AS BIGINT) AS w1m,
        |    CAST(MIN(w2m) - round(AVG((p - y) * x2) * 1000000) AS BIGINT) AS w2m
        |  FROM s2),
        |s3 AS (SELECT y, x1, x2, w0m, w1m, w2m,
        |    1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0))) AS p
        |  FROM feats, it2),
        |it3 AS (SELECT
        |    CAST(MIN(w0m) - round(AVG((p - y) * 1.0) * 1000000) AS BIGINT) AS w0m,
        |    CAST(MIN(w1m) - round(AVG((p - y) * x1) * 1000000) AS BIGINT) AS w1m,
        |    CAST(MIN(w2m) - round(AVG((p - y) * x2) * 1000000) AS BIGINT) AS w2m
        |  FROM s3),
        |s4 AS (SELECT y, x1, x2, w0m, w1m, w2m,
        |    1.0 / (1.0 + exp(-((w0m + w1m * x1 + w2m * x2) / 1000000.0))) AS p
        |  FROM feats, it3)
        |SELECT MIN(w0m) AS w0m, MIN(w1m) AS w1m, MIN(w2m) AS w2m,
        |  COUNT(*) AS n_train,
        |  CAST(round(AVG(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * 1000)
        |    AS BIGINT) AS logloss_milli
        |FROM s4""".stripMargin,
    "lm_stupid_backoff" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |train AS (SELECT * FROM docs WHERE doc_id % 10 != 0),
        |test AS (SELECT * FROM docs WHERE doc_id % 10 = 0),
        |uni AS (SELECT w, COUNT(*) AS c1
        |  FROM (SELECT unnest(t) AS w FROM train) GROUP BY 1),
        |nv AS (SELECT SUM(c1) AS n_tok, COUNT(*) AS v_sz FROM uni),
        |bi AS (SELECT g, COUNT(*) AS c12 FROM (
        |    SELECT unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(list_slice(t, i, i+1), ' '))) AS g FROM train)
        |  GROUP BY 1),
        |tb AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(list_slice(t, i, i+1), ' '))) AS g FROM test),
        |scored AS (SELECT tb.doc_id,
        |    CAST(round(-ln(CASE WHEN bi.c12 IS NOT NULL
        |      THEN CAST(bi.c12 AS DOUBLE) / u1.c1
        |      ELSE 0.4 * (CAST(COALESCE(u2.c1, 0) + 1 AS DOUBLE) / (nv.n_tok + nv.v_sz))
        |    END) * 1000) AS BIGINT) AS nll_milli
        |  FROM tb LEFT JOIN bi ON tb.g = bi.g
        |    LEFT JOIN uni u1 ON string_split(tb.g, ' ')[1] = u1.w
        |    LEFT JOIN uni u2 ON string_split(tb.g, ' ')[2] = u2.w, nv)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(nll_milli) AS BIGINT) AS nll_total_milli,
        |  CAST(SUM(nll_milli) AS BIGINT) // COUNT(*) AS nll_avg_milli
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_collocation_dice" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uc AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks)
        |  GROUP BY 1),
        |bc AS (SELECT g, COUNT(*) AS c12 FROM (
        |    SELECT unnest(list_transform(range(1, len(t)),
        |      i -> array_to_string(list_slice(t, i, i+1), ' '))) AS g FROM toks)
        |  GROUP BY 1 HAVING COUNT(*) >= 5)
        |SELECT g AS bigram, c12, u1.c AS c1, u2.c AS c2,
        |  c12 * 2000 // (u1.c + u2.c) AS dice_milli
        |FROM bc JOIN uc u1 ON string_split(g, ' ')[1] = u1.w
        |        JOIN uc u2 ON string_split(g, ' ')[2] = u2.w
        |ORDER BY dice_milli DESC, bigram ASC LIMIT 50""".stripMargin,
    "sample_domain_quota" ->
      """WITH ranked AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 15 ORDER BY doc_id""".stripMargin,
    "sample_temperature" ->
      """WITH bylang AS (SELECT lang, COUNT(*) AS cnt,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS isqrt
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(isqrt) AS BIGINT) AS s_isqrt FROM bylang)
        |SELECT doc_id, d.lang, source
        |FROM documents d JOIN bylang USING (lang) CROSS JOIN tot
        |WHERE (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000000)
        |    * s_isqrt * cnt < 1000000 * 200 * isqrt
        |ORDER BY doc_id""".stripMargin,
    "sample_weighted_priority" ->
      """WITH w AS (SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a', 'of'))) AS BIGINT) + 1 AS w,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS u
        |  FROM documents)
        |SELECT doc_id, lang, w, u // w AS priority
        |FROM w ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "split_train_val_test" ->
      """WITH b AS (SELECT lang, n_chars,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "chunk_sliding_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks,
        |    unnest(range(0, greatest(len(toks), 1), 32)) AS start FROM t)
        |SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_idx,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS n_tok,
        |  array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_strip_html" ->
      """WITH h AS (SELECT doc_id, text,
        |    '<p class="doc"><span>'
        |      || regexp_replace(text, ' fast ', ' <b>fast</b> ', 'g')
        |      || '</span></p>&nbsp;<br/>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, text, html,
        |    trim(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<[^>]+>', '', 'g'), '&[a-z]+;', ' ', 'g'), '  +', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, CAST(len(html) AS BIGINT) AS html_len,
        |  CAST(len(clean) AS BIGINT) AS clean_len,
        |  clean = text AS roundtrip_ok
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_sentence_split" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(string_split(text, ' a '),
        |      x -> len(string_split(x, ' '))) AS lens
        |  FROM documents)
        |SELECT doc_id, CAST(len(lens) AS BIGINT) AS n_sent,
        |  CAST(list_sum(lens) AS BIGINT) AS tot_toks,
        |  CAST(list_max(lens) AS BIGINT) AS max_toks,
        |  CAST(list_min(lens) AS BIGINT) AS min_toks
        |FROM t ORDER BY doc_id""".stripMargin,
    "bpe_merge_iter" ->
      """WITH words AS (SELECT w, COUNT(*) AS cnt
        |    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |    GROUP BY 1 HAVING length(w) >= 2),
        |pairs AS (SELECT w, cnt,
        |    unnest(list_transform(generate_series(1, length(w) - 1),
        |      i -> substring(w, i, 2))) AS pair
        |  FROM words),
        |top1 AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count,
        |    COUNT(DISTINCT w) AS n_words
        |  FROM pairs GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT 1)
        |SELECT MAX(pair) AS pair, MAX(pair_count) AS pair_count,
        |  MAX(n_words) AS n_words,
        |  CAST(SUM((length(w) - length(replace(w, pair, '#'))) * cnt) AS BIGINT)
        |    AS n_replacements,
        |  CAST(SUM(length(w) * cnt) AS BIGINT) AS symbols_before,
        |  CAST(SUM(length(w) * cnt)
        |    - SUM((length(w) - length(replace(w, pair, '#'))) * cnt) AS BIGINT)
        |    AS symbols_after
        |FROM words, top1""".stripMargin,
    "bpe_encode" -> {
      // one training iteration, as a SQL template over the previous vocab
      // CTE — mirrors the Spark mergeOnce exactly (same tie-break, same
      // left-to-right replace on the separator representation)
      def it(i: Int): String = {
        val prev = s"v${i - 1}"
        s"""p$i AS (SELECT p1, p2 FROM (
           |    SELECT syms[i] AS p1, syms[i + 1] AS p2, CAST(SUM(cnt) AS BIGINT) AS pc
           |    FROM (
           |      SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
           |      FROM (SELECT cnt, string_split(rep, chr(1))[2:] AS syms FROM $prev) a
           |      WHERE len(syms) >= 2) b
           |    GROUP BY 1, 2 ORDER BY pc DESC, p1, p2 LIMIT 1) t),
           |v$i AS (SELECT w, cnt,
           |    replace(rep, chr(1) || p1 || chr(1) || p2, chr(1) || p1 || p2) AS rep
           |  FROM $prev CROSS JOIN p$i)""".stripMargin
      }
      s"""WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |v0 AS (SELECT w, COUNT(*) AS cnt,
         |    regexp_replace(w, '(.)', chr(1) || '\\1', 'g') AS rep
         |  FROM w0 GROUP BY 1),
         |${(1 to 4).map(it).mkString(",\n")},
         |syms AS (SELECT DISTINCT unnest(string_split(rep, chr(1))[2:]) AS sym FROM v4),
         |symid AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS tok_id
         |  FROM syms),
         |wid AS (SELECT w, CAST(SUM(tok_id) AS BIGINT) AS w_id_sum,
         |    COUNT(*) AS w_n_sym
         |  FROM (SELECT w, unnest(string_split(rep, chr(1))[2:]) AS sym FROM v4) x
         |  JOIN symid USING (sym) GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_ws_tokens,
         |  CAST(SUM(w_n_sym) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(w_id_sum) AS BIGINT) AS tok_id_sum
         |FROM w0 JOIN wid USING (w)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    "pack_token_bins_bpe" -> {
      def it(i: Int): String = {
        val prev = s"v${i - 1}"
        s"""p$i AS (SELECT p1, p2 FROM (
           |    SELECT syms[i] AS p1, syms[i + 1] AS p2, CAST(SUM(cnt) AS BIGINT) AS pc
           |    FROM (
           |      SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
           |      FROM (SELECT cnt, string_split(rep, chr(1))[2:] AS syms FROM $prev) a
           |      WHERE len(syms) >= 2) b
           |    GROUP BY 1, 2 ORDER BY pc DESC, p1, p2 LIMIT 1) t),
           |v$i AS (SELECT w, cnt,
           |    replace(rep, chr(1) || p1 || chr(1) || p2, chr(1) || p1 || p2) AS rep
           |  FROM $prev CROSS JOIN p$i)""".stripMargin
      }
      s"""WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |v0 AS (SELECT w, COUNT(*) AS cnt,
         |    regexp_replace(w, '(.)', chr(1) || '\\1', 'g') AS rep
         |  FROM w0 GROUP BY 1),
         |${(1 to 4).map(it).mkString(",\n")},
         |wn AS (SELECT w, CAST(len(string_split(rep, chr(1))[2:]) AS BIGINT) AS w_n_sym
         |  FROM v4),
         |enc AS (SELECT doc_id, CAST(SUM(w_n_sym) AS BIGINT) AS n_tok
         |  FROM w0 JOIN wn USING (w) GROUP BY 1),
         |j AS (SELECT d.doc_id, d.lang, n_tok
         |  FROM documents d JOIN enc ON d.doc_id = enc.doc_id),
         |c AS (SELECT doc_id, lang, n_tok, SUM(n_tok) OVER (PARTITION BY lang
         |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         |SELECT doc_id, lang, n_tok, CAST((cum - n_tok) // 1024 AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "text_pii_stats" ->
      """WITH t AS (SELECT source,
        |    CASE WHEN doc_id % 11 = 0
        |           THEN text || ' contact_user' || CAST(doc_id AS VARCHAR)
        |                || '@example.com'
        |         WHEN doc_id % 13 = 0
        |           THEN text || ' call 555-01'
        |                || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |         ELSE text END AS txt
        |  FROM documents),
        |h AS (SELECT source,
        |    CAST(len(regexp_extract_all(txt, '[a-z0-9_]+@[a-z0-9.]+[a-z]')) AS BIGINT)
        |      AS n_email,
        |    CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone
        |  FROM t)
        |SELECT source, CAST(SUM(n_email) AS BIGINT) AS n_email,
        |  CAST(SUM(n_phone) AS BIGINT) AS n_phone,
        |  COUNT(*) FILTER (n_email + n_phone > 0) AS n_docs_pii
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_mix_schedule" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_toks AS DOUBLE))) AS BIGINT) AS wgt
        |  FROM s),
        |t AS (SELECT CAST(SUM(wgt) AS BIGINT) AS wsum FROM w)
        |SELECT source, n_docs, n_toks, wgt,
        |  (wgt * 1000000) // (SELECT wsum FROM t) AS share_ppm,
        |  (100000 * wgt) // (SELECT wsum FROM t) AS planned_toks,
        |  ((100000 * wgt) // (SELECT wsum FROM t)) * 1000 // n_toks AS epochs_milli
        |FROM w ORDER BY source""".stripMargin,
    "privacy_k_anon" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS bk
        |  FROM customer),
        |l0 AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey,
        |    c_mktsegment, bk) AS n0 FROM base),
        |pass0 AS (SELECT CAST(0 AS BIGINT) AS level,
        |    'nation:' || c_nationkey AS qi_geo, c_mktsegment AS qi_seg,
        |    'bal2k:' || bk AS qi_bal, c_custkey FROM l0 WHERE n0 >= 5),
        |l1 AS (SELECT *, c_nationkey // 5 AS region FROM l0 WHERE n0 < 5),
        |l1n AS (SELECT *, COUNT(*) OVER (PARTITION BY region,
        |    c_mktsegment, bk) AS n1 FROM l1),
        |pass1 AS (SELECT CAST(1 AS BIGINT) AS level,
        |    'region:' || region AS qi_geo, c_mktsegment AS qi_seg,
        |    'bal2k:' || bk AS qi_bal, c_custkey FROM l1n WHERE n1 >= 5),
        |supp AS (SELECT CAST(2 AS BIGINT) AS level, '*' AS qi_geo,
        |    '*' AS qi_seg, '*' AS qi_bal, c_custkey FROM l1n WHERE n1 < 5),
        |u AS (SELECT * FROM pass0 UNION ALL SELECT * FROM pass1
        |      UNION ALL SELECT * FROM supp)
        |SELECT level, qi_geo, qi_seg, qi_bal, COUNT(*) AS n_rows,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_ids
        |FROM u GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "privacy_l_diversity" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000 AS bk
        |  FROM customer),
        |g AS (SELECT c_nationkey, c_mktsegment, bk, COUNT(*) AS nb
        |  FROM base GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, CAST(SUM(nb) AS BIGINT) AS n_rows,
        |  COUNT(*) AS l_distinct, MAX(nb) AS top_sens,
        |  COUNT(*) >= 3 AND MAX(nb) * 2 <= SUM(nb) AS release_ok
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_class_balance" ->
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |m AS (SELECT MIN(cnt) AS min_cnt FROM c),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT,
        |      doc_id) AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM r, m WHERE rn <= min_cnt GROUP BY 1 ORDER BY 1""".stripMargin,
    "url_canonicalize" ->
      """WITH u AS (SELECT doc_id,
        |    'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM/' || source
        |      || '/page' || CAST(doc_id % 3 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=x&id=9'
        |              ELSE '#frag' END AS url
        |  FROM documents),
        |n AS (SELECT doc_id, regexp_replace(url, '[?#].*$', '') AS nofrag FROM u),
        |c AS (SELECT doc_id, 'https://'
        |    || regexp_replace(lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/]+)', 1)),
        |         '^www\.', '')
        |    || regexp_replace(regexp_extract(nofrag, '^[A-Za-z]+://[^/]+(/.*)?$', 1),
        |         '/$', '') AS canon
        |  FROM n)
        |SELECT canon, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "pref_bradley_terry" ->
      s"""WITH $prefGamesSql,
         |cnt AS (SELECT win, lose, COUNT(*) AS n FROM games GROUP BY 1, 2),
         |np AS (SELECT i, j, SUM(n) AS n FROM (
         |    SELECT win AS i, lose AS j, n FROM cnt
         |    UNION ALL SELECT lose, win, n FROM cnt) GROUP BY 1, 2),
         |wins AS (SELECT win AS i, SUM(n) AS w FROM cnt GROUP BY 1),
         |items AS (SELECT DISTINCT i FROM np),
         |p0 AS (SELECT i, CAST(1000 AS BIGINT) AS p FROM items),
         |d1 AS (SELECT np.i, SUM((np.n * 1000000) // GREATEST(pi.p + pj.p, 1)) AS den
         |  FROM np JOIN p0 pi ON pi.i = np.i JOIN p0 pj ON pj.i = np.j GROUP BY 1),
         |p1 AS (SELECT it.i, (COALESCE(w.w, 0) * 1000000) // GREATEST(d1.den, 1) AS p
         |  FROM items it LEFT JOIN wins w ON w.i = it.i LEFT JOIN d1 ON d1.i = it.i),
         |d2 AS (SELECT np.i, SUM((np.n * 1000000) // GREATEST(pi.p + pj.p, 1)) AS den
         |  FROM np JOIN p1 pi ON pi.i = np.i JOIN p1 pj ON pj.i = np.j GROUP BY 1),
         |p2 AS (SELECT it.i, (COALESCE(w.w, 0) * 1000000) // GREATEST(d2.den, 1) AS p
         |  FROM items it LEFT JOIN wins w ON w.i = it.i LEFT JOIN d2 ON d2.i = it.i),
         |d3 AS (SELECT np.i, SUM((np.n * 1000000) // GREATEST(pi.p + pj.p, 1)) AS den
         |  FROM np JOIN p2 pi ON pi.i = np.i JOIN p2 pj ON pj.i = np.j GROUP BY 1),
         |p3 AS (SELECT it.i, (COALESCE(w.w, 0) * 1000000) // GREATEST(d3.den, 1) AS p
         |  FROM items it LEFT JOIN wins w ON w.i = it.i LEFT JOIN d3 ON d3.i = it.i)
         |SELECT i AS source, CAST(p AS BIGINT) AS bt_milli FROM p3 ORDER BY 1""".stripMargin,
    "pref_annotator_kappa" ->
      s"""WITH $prefGamesSql,
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_games,
         |    CAST(SUM(CASE WHEN lo_wins_q = lo_wins_len THEN 1 ELSE 0 END) AS BIGINT) AS agree_n,
         |    CAST(SUM(CASE WHEN lo_wins_q THEN 1 ELSE 0 END) AS BIGINT) AS a_lo,
         |    CAST(SUM(CASE WHEN lo_wins_len THEN 1 ELSE 0 END) AS BIGINT) AS b_lo
         |  FROM games),
         |m AS (SELECT n_games, agree_n,
         |    (agree_n * 1000) // n_games AS po_milli,
         |    ((a_lo * b_lo + (n_games - a_lo) * (n_games - b_lo)) * 1000)
         |      // (n_games * n_games) AS pe_milli
         |  FROM c)
         |SELECT n_games, agree_n,
         |  CAST(po_milli AS BIGINT) AS po_milli, CAST(pe_milli AS BIGINT) AS pe_milli,
         |  CAST(CASE WHEN po_milli >= pe_milli
         |    THEN ((po_milli - pe_milli) * 1000) // GREATEST(1000 - pe_milli, 1)
         |    ELSE -(((pe_milli - po_milli) * 1000) // GREATEST(1000 - pe_milli, 1))
         |  END AS BIGINT) AS kappa_milli
         |FROM m""".stripMargin,
  )

}
