package graft.queries

import graft.Tables
import graft.ops.{Cleaning, Scratch, TextOps, VectorOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Retrieval + lake-maintenance pack: the operators that turn the corpus
  * engine into a RAG/data-curation backend — lexical scoring (BM25),
  * rank fusion (RRF), compressed vector search (product quantization with
  * asymmetric-distance lookup), CDC log compaction (latest-wins), and the
  * erasure cascade a right-to-be-forgotten request triggers across a
  * normalized fact chain.
  *
  * Scale posture: every candidate/score step is map work, a keyed hash
  * aggregate, or an equi-join against a CONSTANT-size broadcast side
  * (query terms, codebook, ADC table, tombstones); the only global sorts
  * are top-k (TakeOrderedAndProject) and final presentation ORDER BYs.
  * All scores are exact integers (milli/micro units) so both engines
  * agree bit-for-bit — BM25's idf is an integer rational variant
  * ((N-df+1)·1000 div (df+1)) rather than the float log form, documented
  * here precisely so the oracle can prove the rest of the pipeline exact.
  */
object RetrievalQueries extends QueryPack {

  private val bm25Terms = Seq("vector", "merge", "scan")

  /** Integer-exact BM25 (k1=1.2, b=0.75 in milli units): one explode +
    * filter to the constant term set (pushed ahead of the only keyed
    * shuffle), then two constant-size aggregates (per-term df, corpus
    * N/avgdl) broadcast back onto the per-(doc,term) tf rows. At 100 TB
    * the shuffled relation is |docs containing a query term| × |terms| —
    * the index-probe volume, not the corpus.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("bm25", s, d)(bm25Build(s, d))

  /** The unmaterialized BM25 build plan — package-visible so the plan
    * guard can pin its broadcast-stats shape (the query plans themselves
    * now show only the scratch-parquet scan of the materialized result).
    */
  private[graft] def bm25Build(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl * 1000 div n_docs").as("avgdl_milli"))
    tf.join(broadcast(dfreq), "tok")
      .join(docs.select("doc_id", "dl"), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_milli", expr("(n_docs - df + 1) * 1000 div (df + 1)"))
      .withColumn("dlnorm_milli", expr("dl * 1000000 div avgdl_milli"))
      .withColumn("denom_milli",
        expr("tf * 1000 + (1200 * (250 + (750 * dlnorm_milli) div 1000)) div 1000"))
      .withColumn("term_micro", expr("idf_milli * ((tf * 2200 * 1000) div denom_milli)"))
      .groupBy("doc_id")
      .agg(sum("term_micro").as("bm25_micro"), count(lit(1)).as("n_terms_hit"))
  }

  /** (vec_id, subspace, cw_id, d2) — nearest codeword per 16-dim subspace
    * for every data vector (vec_id ≥ 8), codebook = the 8 constant vectors
    * (vec_id < 8) split the same way. Distances are exact integer
    * milli-L2² so the argmin is bit-stable across engines; ties break on
    * cw_id. The crossJoin fans each vector over a CONSTANT 8-row
    * broadcast codebook (×4 subspaces) — the standard PQ training-free
    * assignment, linear in corpus size.
    */
  private def pqAssign(s: SparkSession, d: String): DataFrame = Scratch.materialize("pq_assign", s, d) {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val cw = e.filter(col("vec_id") < 8).select(col("vec_id").as("cw_id"), col("v").as("cv"))
    // argmin as min(struct(d2, cw_id)) — a hash aggregate with map-side
    // partial combine (the struct min is associative), NOT a window: no
    // per-group sort, and each map task forwards one candidate per
    // (vector, subspace) into the shuffle.
    e.filter(col("vec_id") >= 8).crossJoin(broadcast(cw))
      .select(col("vec_id"), col("cw_id"), posexplode(subDists("v", "cv")))
      .select(col("vec_id"), col("cw_id"), col("pos").cast("long").as("subspace"),
        col("col").as("d2"))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("d2"), col("cw_id"))).as("m"))
      .select(col("vec_id"), col("subspace"),
        col("m.cw_id").as("cw_id"), col("m.d2").as("d2"))
  }

  /** array of 4 per-subspace integer milli-L2² distances between two
    * 64-dim float vectors (columns `a`, `b`).
    */
  private def subDists(a: String, b: String) = expr(
    s"""transform(sequence(0, 3), s -> aggregate(
       |  zip_with(slice($a, s*16+1, 16), slice($b, s*16+1, 16),
       |    (x, y) -> (CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)
       |             - CAST(round(CAST(y AS DOUBLE)*1000) AS BIGINT))
       |            * (CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)
       |             - CAST(round(CAST(y AS DOUBLE)*1000) AS BIGINT))),
       |  0L, (acc, e) -> acc + e))""".stripMargin)

  val queries: Map[String, Q] = Map(
    // Lexical top-50 by the integer BM25 above. The global sort is a
    // TakeOrderedAndProject (per-partition top-k, then k·partitions rows
    // to one reducer) — never a full sort.
    "text_bm25_topk" -> ((s, d) =>
      bm25Scores(s, d)
        .orderBy(col("bm25_micro").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("bm25_micro"), col("n_terms_hit"))),

    // Reciprocal-rank fusion of the lexical (BM25) and vector (cosine to
    // query vec 8) top-20 lists — the hybrid-retrieval merge step. Ranks
    // are assigned AFTER each side's top-k limit, so the rank window runs
    // over a constant-20-row input, never the corpus. The doc_id↔vec_id
    // identification is the synthetic dataset's 1:1 keying of documents
    // to embeddings. contribution = 1e6 div (60 + rank), the standard
    // RRF k=60 in integer micro units.
    "rrf_fusion" -> ((s, d) => {
      // both rank windows run over constant-20-row post-limit inputs; the
      // non-foldable constant partition key keeps the WindowExec warning
      // reserved for real unbounded global windows (Cleaning.singlePartitionKey)
      val wLex = Window.partitionBy(Cleaning.singlePartitionKey(col("doc_id")))
        .orderBy(col("bm25_micro").desc, col("doc_id"))
      val lex = bm25Scores(s, d)
        .orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
        .withColumn("rn", row_number().over(wLex))
        .select(col("doc_id"), expr("1000000 div (60 + rn)").as("c_lex"))
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val q = e.filter(col("vec_id") === 8).select(col("v").as("qv"))
      val wVec = Window.partitionBy(Cleaning.singlePartitionKey(col("vec_id")))
        .orderBy(col("cos").desc, col("vec_id"))
      val vec = e.filter(col("vec_id") =!= 8).crossJoin(broadcast(q))
        .withColumn("cos", VectorOps.cosine(col("v"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id")).limit(20)
        .withColumn("rn", row_number().over(wVec))
        .select(col("vec_id").as("doc_id"), expr("1000000 div (60 + rn)").as("c_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(col("c_lex"), lit(0L)) + coalesce(col("c_vec"), lit(0L))).as("rrf_micro"),
          col("c_lex").isNotNull.as("in_lex"), col("c_vec").isNotNull.as("in_vec"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
    }),

    // Product-quantization codes: each 64-dim vector compressed to 4
    // codeword ids (one per 16-dim subspace) + total quantization error.
    // This is the build side of a PQ index: 4 bytes/vector instead of
    // 256, computed in one linear pass over the corpus.
    "ann_pq_codes" -> ((s, d) =>
      pqAssign(s, d)
        .groupBy("vec_id")
        .agg(
          sum(when(col("subspace") === 0, col("cw_id"))).as("code0"),
          sum(when(col("subspace") === 1, col("cw_id"))).as("code1"),
          sum(when(col("subspace") === 2, col("cw_id"))).as("code2"),
          sum(when(col("subspace") === 3, col("cw_id"))).as("code3"),
          sum(col("d2")).as("qerr_milli2"))
        .orderBy("vec_id")),

    // PQ search with asymmetric distance computation: the query (vec 8)
    // is NOT quantized; its distance to each of the 32 (subspace,
    // codeword) cells is precomputed into a constant ADC lookup table,
    // and each data vector's distance is the sum of 4 table lookups —
    // an equi-join on (subspace, code) against a broadcast 32-row table,
    // which is why PQ search costs no per-pair vector math at 100 TB.
    "ann_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val cw = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cw_id"), col("v").as("cv"))
      val q = e.filter(col("vec_id") === 8).select(col("v").as("qv"))
      val adc = cw.crossJoin(broadcast(q))
        .select(col("cw_id"), posexplode(subDists("qv", "cv")))
        .select(col("cw_id"), col("pos").cast("long").as("subspace"), col("col").as("qd2"))
      pqAssign(s, d)
        .join(broadcast(adc), Seq("subspace", "cw_id"))
        .groupBy("vec_id")
        .agg(sum("qd2").as("adc_milli2"))
        .orderBy(col("adc_milli2"), col("vec_id"))
        .limit(10)
    }),

    // IVF-PQ composed index — the billion-vector ANN architecture: an IVF
    // coarse quantizer prunes the corpus to the 2 probed buckets per query
    // BEFORE any distance work, then candidates are scored by PQ
    // asymmetric-distance lookups (sum of 4 table probes against a
    // constant per-query ADC table) instead of full-vector math. At 100 TB
    // the cost per query is |2 buckets| ADC lookups — never a corpus scan,
    // never a vector multiply outside the constant codebook tables. The
    // centroid set (vec_id < 8) doubles as coarse quantizer and PQ
    // codebook, same convention as ann_ivf_topk / ann_pq_adc.
    "ann_ivf_pq_adc" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      // coarse assignment: every data vector to its best-cosine bucket
      // (8-row broadcast fan-out + rank-1 window, map-side WindowGroupLimit)
      val aw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val assign = e.filter(col("vec_id") >= 8).crossJoin(broadcast(cent))
        .withColumn("c_cos", VectorOps.cosine(col("v"), col("cv")))
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") === 1)
        .select(col("vec_id"), col("c_id").as("bucket"))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pw = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val probes = q.crossJoin(broadcast(cent))
        .withColumn("c_cos", VectorOps.cosine(col("qv"), col("cv")))
        .withColumn("prank", row_number().over(pw))
        .filter(col("prank") <= 2)
        .select(col("q_id"), col("qv"), col("c_id").as("bucket"))
      // per-query ADC table: queries × 4 subspaces × 8 codewords = 160
      // constant rows, broadcast onto the candidates
      val adc = q.crossJoin(broadcast(cent.select(col("c_id").as("cw_id"), col("cv"))))
        .select(col("q_id"), col("cw_id"), posexplode(subDists("qv", "cv")))
        .select(col("q_id"), col("cw_id"), col("pos").cast("long").as("subspace"),
          col("col").as("qd2"))
      // candidate set = members of the probed buckets ONLY — the bucket
      // equi-join is the pruning step; ADC scoring never sees the rest
      val cand = probes.select("q_id", "bucket").join(assign, "bucket")
        .filter(col("q_id") =!= col("vec_id"))
        .select("q_id", "vec_id", "bucket")
      val rw = Window.partitionBy("q_id").orderBy(col("adc_milli2").asc, col("vec_id").asc)
      cand.join(pqAssign(s, d), "vec_id")
        .join(broadcast(adc), Seq("q_id", "subspace", "cw_id"))
        .groupBy("q_id", "vec_id", "bucket")
        .agg(sum("qd2").as("adc_milli2"))
        .withColumn("rnk", row_number().over(rw).cast("long"))
        .filter(col("rnk") <= 10)
        .orderBy("q_id", "rnk")
    }),

    // CDC log compaction, latest-wins: a change stream (insert baseline,
    // update every 5th key, delete every 20th) collapsed to current state
    // — max-seq version per key kept, tombstones dropped. ONE shuffle on
    // the key; the per-key window never sees more rows than that key's
    // change count. This is the read-side materialization of a CDC feed
    // (merge_upsert is the write-side overwrite flavor).
    "cdc_latest_wins" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), Cleaning.cents(col("o_totalprice")).as("cents"))
      val ins = base.select(col("k"), col("cents"), lit(0L).as("seq"), lit("I").as("op"))
      val upd = base.filter(col("k") % 5 === 0)
        .select(col("k"), (col("cents") + 12345L).as("cents"), lit(1L).as("seq"),
          lit("U").as("op"))
      val del = base.filter(col("k") % 20 === 0)
        .select(col("k"), lit(0L).as("cents"), lit(2L).as("seq"), lit("D").as("op"))
      val w = Window.partitionBy("k").orderBy(col("seq").desc)
      ins.unionByName(upd).unionByName(del)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("k").as("o_orderkey"), col("cents").as("cur_cents"), col("op").as("last_op"))
        .orderBy("o_orderkey")
    }),

    // Right-to-be-forgotten cascade: tombstoned customers (every 97th key)
    // erased through the normalized chain customer → orders → lineitem.
    // The tombstone set broadcasts (it is request-sized, not corpus-
    // sized); each fact level is one anti/semi join — no per-level
    // full-table rewrite beyond its own scan. Output is the audit row:
    // survivors and erased counts per level plus the surviving money sum.
    "gdpr_erasure_cascade" -> ((s, d) => {
      val tomb = Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"))
      val keptCust = Tables.customer(s, d).join(broadcast(tomb), Seq("c_custkey"), "left_anti")
      val orders = Tables.orders(s, d)
      val keptOrd = orders.join(broadcast(tomb),
        orders("o_custkey") === tomb("c_custkey"), "left_anti")
      val keptLine = Tables.lineitem(s, d)
        .join(keptOrd.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
      val a = keptCust.agg(count(lit(1)).as("n_cust_kept"))
      val b = keptOrd.agg(count(lit(1)).as("n_orders_kept"),
        sum(Cleaning.cents(col("o_totalprice"))).as("kept_cents"))
      val c = keptLine.agg(count(lit(1)).as("n_lineitems_kept"))
      val t = tomb.agg(count(lit(1)).as("n_erased_customers"))
      a.crossJoin(b).crossJoin(c).crossJoin(t)
        .select(col("n_erased_customers"), col("n_cust_kept"), col("n_orders_kept"),
          col("n_lineitems_kept"), col("kept_cents"))
    }),
  )

  private def bm25Sql: String =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(toks) AS tok FROM docs) x
      |  WHERE tok IN ('vector', 'merge', 'scan') GROUP BY 1, 2),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    SUM(dl) * 1000 // COUNT(*) AS avgdl_milli FROM docs),
      |scored AS (SELECT doc_id,
      |    CAST(SUM(idf_milli * ((tf * 2200 * 1000) // denom_milli)) AS BIGINT) AS bm25_micro,
      |    COUNT(*) AS n_terms_hit
      |  FROM (SELECT t.doc_id, t.tf,
      |      (n_docs - df + 1) * 1000 // (df + 1) AS idf_milli,
      |      t.tf * 1000 + (1200 * (250 + (750 * (d.dl * 1000000 // avgdl_milli)) // 1000)) // 1000
      |        AS denom_milli
      |    FROM tf t JOIN dfreq USING (tok) JOIN docs d USING (doc_id) CROSS JOIN stats) y
      |  GROUP BY 1)""".stripMargin

  private def pqSql: String =
    """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |cw AS (SELECT vec_id AS cw_id, v AS cv FROM e WHERE vec_id < 8),
      |sub AS (SELECT unnest([0, 1, 2, 3]) AS s),
      |dist AS (SELECT e.vec_id, cw_id, CAST(s AS BIGINT) AS subspace,
      |    list_aggregate(list_transform(
      |      list_zip(list_slice(e.v, s*16+1, s*16+16), list_slice(cv, s*16+1, s*16+16)),
      |      z -> (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)
      |         * (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)), 'sum') AS d2
      |  FROM e CROSS JOIN cw CROSS JOIN sub WHERE e.vec_id >= 8),
      |assigned AS (SELECT vec_id, subspace, cw_id, d2 FROM (
      |    SELECT vec_id, subspace, cw_id, d2,
      |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2, cw_id) AS rn
      |    FROM dist) r WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_bm25_topk" ->
      s"""WITH $bm25Sql
         |SELECT doc_id, bm25_micro, n_terms_hit FROM scored
         |ORDER BY bm25_micro DESC, doc_id LIMIT 50""".stripMargin,
    "rrf_fusion" ->
      s"""WITH $bm25Sql,
         |lex AS (SELECT doc_id, 1000000 // (60 + rn) AS c_lex FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rn
         |    FROM scored) x WHERE rn <= 20),
         |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 8),
         |vec AS (SELECT vec_id AS doc_id, 1000000 // (60 + rn) AS c_vec FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY
         |      ${LlmQueries.cosSql("v", "qv")} DESC, vec_id) AS rn
         |    FROM e CROSS JOIN q WHERE vec_id <> 8) x WHERE rn <= 20)
         |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         |  CAST(COALESCE(c_lex, 0) + COALESCE(c_vec, 0) AS BIGINT) AS rrf_micro,
         |  c_lex IS NOT NULL AS in_lex, c_vec IS NOT NULL AS in_vec
         |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
         |ORDER BY rrf_micro DESC, doc_id""".stripMargin,
    "ann_pq_codes" ->
      s"""WITH $pqSql
         |SELECT vec_id,
         |  CAST(SUM(CASE WHEN subspace = 0 THEN cw_id END) AS BIGINT) AS code0,
         |  CAST(SUM(CASE WHEN subspace = 1 THEN cw_id END) AS BIGINT) AS code1,
         |  CAST(SUM(CASE WHEN subspace = 2 THEN cw_id END) AS BIGINT) AS code2,
         |  CAST(SUM(CASE WHEN subspace = 3 THEN cw_id END) AS BIGINT) AS code3,
         |  CAST(SUM(d2) AS BIGINT) AS qerr_milli2
         |FROM assigned GROUP BY 1 ORDER BY vec_id""".stripMargin,
    "ann_pq_adc" ->
      s"""WITH $pqSql,
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 8),
         |adc AS (SELECT cw_id, CAST(s AS BIGINT) AS subspace,
         |    list_aggregate(list_transform(
         |      list_zip(list_slice(qv, s*16+1, s*16+16), list_slice(cv, s*16+1, s*16+16)),
         |      z -> (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)
         |         * (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)), 'sum') AS qd2
         |  FROM cw CROSS JOIN q CROSS JOIN sub)
         |SELECT vec_id, CAST(SUM(qd2) AS BIGINT) AS adc_milli2
         |FROM assigned JOIN adc USING (subspace, cw_id)
         |GROUP BY 1 ORDER BY adc_milli2, vec_id LIMIT 10""".stripMargin,
    "ann_ivf_pq_adc" ->
      s"""WITH $pqSql,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |assignb AS (SELECT vec_id, bucket FROM (
         |    SELECT e.vec_id, cw_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${LlmQueries.cosSql("e.v", "cv")} DESC, cw_id) AS arank
         |    FROM e CROSS JOIN cw WHERE e.vec_id >= 8) t WHERE arank = 1),
         |probes AS (SELECT q_id, bucket FROM (
         |    SELECT q_id, cw_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${LlmQueries.cosSql("qv", "cv")} DESC, cw_id) AS prank
         |    FROM q CROSS JOIN cw) t WHERE prank <= 2),
         |adc AS (SELECT q_id, cw_id, CAST(s AS BIGINT) AS subspace,
         |    list_aggregate(list_transform(
         |      list_zip(list_slice(qv, s*16+1, s*16+16), list_slice(cv, s*16+1, s*16+16)),
         |      z -> (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)
         |         * (round(z[1]*1000)::BIGINT - round(z[2]*1000)::BIGINT)), 'sum') AS qd2
         |  FROM q CROSS JOIN cw CROSS JOIN sub),
         |cand AS (SELECT q_id, a.vec_id, a.bucket
         |  FROM probes p JOIN assignb a ON p.bucket = a.bucket
         |  WHERE q_id <> a.vec_id),
         |scored AS (SELECT c.q_id, c.vec_id, c.bucket,
         |    CAST(SUM(qd2) AS BIGINT) AS adc_milli2
         |  FROM cand c JOIN assigned s2 ON c.vec_id = s2.vec_id
         |  JOIN adc ON adc.q_id = c.q_id AND adc.subspace = s2.subspace
         |    AND adc.cw_id = s2.cw_id
         |  GROUP BY 1, 2, 3)
         |SELECT q_id, vec_id, bucket, adc_milli2, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc_milli2, vec_id) AS BIGINT) AS rnk FROM scored) t
         |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "cdc_latest_wins" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |changes AS (
        |  SELECT k, cents, 0 AS seq, 'I' AS op FROM base
        |  UNION ALL SELECT k, cents + 12345, 1, 'U' FROM base WHERE k % 5 = 0
        |  UNION ALL SELECT k, 0, 2, 'D' FROM base WHERE k % 20 = 0),
        |latest AS (SELECT k, cents, op,
        |    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM changes)
        |SELECT k AS o_orderkey, CAST(cents AS BIGINT) AS cur_cents, op AS last_op
        |FROM latest WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin,
    "gdpr_erasure_cascade" ->
      """WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |kept_ord AS (SELECT * FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb))
        |SELECT
        |  (SELECT COUNT(*) FROM tomb) AS n_erased_customers,
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM tomb))
        |    AS n_cust_kept,
        |  (SELECT COUNT(*) FROM kept_ord) AS n_orders_kept,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN
        |    (SELECT o_orderkey FROM kept_ord)) AS n_lineitems_kept,
        |  (SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    FROM kept_ord) AS kept_cents""".stripMargin,
  )
}
