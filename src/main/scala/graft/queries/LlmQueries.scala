package graft.queries

import graft.Tables
import graft.ops.{Scratch, TextOps, VectorOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: text analysis, exact / MinHash-LSH / SimHash
  * deduplication, and similarity search (SURVEY.md §7.2 step 5; the
  * north-star half of the brief).
  *
  * Scale posture, uniformly: candidate generation is ALWAYS a bucket/band
  * equi-join (MinHash bands, SimHash bands, sign-LSH buckets, IVF
  * probe-buckets) — never an all-pairs cross join; per-document signature
  * computation is pure map work (higher-order functions, no UDFs); the
  * only shuffles are hash aggregations and the band-key joins. Every hash
  * is md5-derived ([[TextOps.hash60]]) so the DuckDB oracle reproduces the
  * identical signatures bit-for-bit.
  */
object LlmQueries extends QueryPack {

  /** The standing MinHash band table's cross-run artifact location —
    * deliberately nonce-FREE and derived only from the sf dir's basename,
    * so a later process (or the DuckDB oracle, via `read_parquet`) finds
    * the same files: this path is durable pipeline state, not scratch.
    */
  private[queries] def standingBandsPath(d: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-standing-bands-" +
      new java.io.File(d.stripSuffix("/")).getName

  /** documents → (doc_id, band, band_key) rows. The k=8 signature is the
    * native one-pass expression ([[graft.functions.MinHashSignature]]):
    * MD5 + all 8 affine mins in one compiled loop per document — the
    * shingle explode (row count × ~doc length through a hash aggregate)
    * is gone; the only shuffle left is the explicit repartition below.
    * The retired explode+agg form survives as [[TextOps.minHashAgg]],
    * pinned equivalent in `TextVectorOpsSpec`. Docs with < 3 tokens carry
    * no shingles and are excluded, mirrored in SQL. At sf0.1 both shapes
    * time alike (MD5 dominates); the win is the removed fan-out, which
    * grows with corpus scale.
    */
  private[graft] def minhashBands(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("minhash_bands", s, d) {
      TextOps.minhashBandTable(Tables.documents(s, d))
        // map-only signatures inherit the scan's split count (ONE partition
        // per ~128MB input file) — fine for the table itself, but every
        // downstream broadcast-join/verify pipeline would inherit that
        // parallelism too (the old agg shape left hash(doc_id) partitions
        // here incidentally). Spread before the scratch write so the
        // artifact lands as many files and verify work fans across the
        // cluster.
        .repartition(col("doc_id"))
    }

  /** (doc_id, gh) for every 5-gram shingle — shared by `text_fingerprint`
    * and CorpusQueries' `contamination_ngram`, so the corpus is shingled
    * and hashed ONCE per (session, dir) rather than once per consumer.
    * Docs with < 5 tokens carry no rows (consumers outer-join as needed).
    */
  private[queries] def gram5Hashes(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("gram5_hashes", s, d) {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.wordShingles(TextOps.tokens(col("text")), 5)).as("g"))
        .select(col("doc_id"), TextOps.hash60(col("g")).as("gh"))
    }

  private def simhashSigs(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("simhash_sigs", s, d) {
      // native one-pass signature: pure map work, no explode, no shuffle
      // (previously TextOps.simHashAgg over exploded (doc_id, hash60)
      // rows — same bits, pinned in TextVectorOpsSpec)
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.simHash60Native(TextOps.tokens(col("text"))).as("simhash"))
    }

  /** Near-dup cluster labels (id, comp) over the banded candidate pairs —
    * the iterative CC runs once per (session, dir); both the cluster
    * query and the corpus-clean pipeline read the same labels.
    */
  private def ccLabels(s: SparkSession, d: String): DataFrame = {
    val b = minhashBands(s, d)
    Scratch.materialize("cc_labels", s, d) {
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
        .distinct()
      graft.ops.GraphOps.connectedComponents(pairs)
    }
  }

  // raw float[] — the native cosine/dot expressions widen per element, so
  // no transform() conversion sits in the scan→similarity pipeline and the
  // stage stays inside whole-stage codegen
  private def embVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))

  /** IVF top-5 per query (queries = vec_id 8..12 over the vec_id ≥ 8
    * universe) — shared by `ann_ivf_topk` and `ann_recall`.
    */
  private def ivfTop5(s: SparkSession, d: String): DataFrame = {
    val e = embVecs(s, d)
    val cent = e.filter(col("vec_id") < 8).select(col("vec_id").as("c_id"), col("v").as("cv"))
    val data = e.filter(col("vec_id") >= 8)
    val aw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val assign = data.crossJoin(broadcast(cent))
      .withColumn("c_cos", VectorOps.cosine(col("v"), col("cv")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("v"), col("c_id").as("bucket"))
    val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pw = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val probes = q.crossJoin(broadcast(cent))
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
  }

  /** Exhaustive top-5 over the same universe/queries as [[ivfTop5]] —
    * the ground truth for `ann_recall`.
    */
  private def bruteTop5(s: SparkSession, d: String): DataFrame = {
    val e = embVecs(s, d)
    val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 13)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= 8)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cosine", VectorOps.cosine(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("q_id", "vec_id", "cosine", "rnk")
  }

  val queries: Map[String, Q] = Map(
    // ---- text analysis -------------------------------------------------
    // Per-language corpus statistics: doc counts, char + whitespace-token
    // totals. One hash aggregation on a low-cardinality key with partial
    // (map-side) combine — the canonical corpus-profiling shape.
    "text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_tokens"),
          sum(length(col("text")).cast("long")).as("sum_len"))
        .orderBy("lang")),

    // Token counting per document: whitespace tokens + a BPE-ish regex
    // lexer (letter runs / digit runs / single punctuation) — per-row map
    // work inside codegen. regexp_count, not size(regexp_extract_all):
    // only the match COUNT is needed, and extract_all materializes one
    // UTF8String per match (allocation-bound under parallel scans — the
    // r11 text_quality adjudication).
    "text_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          expr("CAST(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS BIGINT)")
            .as("n_re_tokens"),
          col("n_chars"))
        .orderBy("doc_id")),

    // n-gram-heuristic language ID (stopword-hit ratio), reported as a
    // (labeled lang × predicted lang) confusion table.
    "text_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("hits", size(filter(col("toks"), t => t.isin("the", "a"))))
        .withColumn("pred_lang",
          when(col("hits") / size(col("toks")) >= 0.05, lit("en")).otherwise(lit("unk")))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")),

    // Quality scoring: length bounds, punctuation count, stopword-density
    // score in integer milli-units (exact arithmetic ⇒ deterministic at
    // any parallelism). The punct count is length(translate(text, allowed,
    // '')) — every '[^a-z0-9 ]' regex match is exactly one character, so
    // deleting the allowed alphabet and measuring what remains computes
    // the identical value with zero per-match allocation. The
    // regexp_extract_all form it replaces materialized one UTF8String per
    // punctuation character (~2.6M at sf1) and measured allocation-bound:
    // 3.30 s at 10-way parallelism vs 1.87 s single-threaded on the same
    // data (GC contention, r11 adjudication), vs 0.28 s for this form.
    "text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          size(col("toks")).cast("long").as("n_tok"),
          length(translate(col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", ""))
            .cast("long").as("n_punct"),
          size(filter(col("toks"), t => t.isin("the", "a", "of"))).cast("long").as("stop_hits"))
        .withColumn("score_milli", expr("(stop_hits * 1000) div n_tok"))
        .withColumn("quality_ok",
          col("score_milli") >= 40 && col("len_chars").between(50, 5000))
        .orderBy("doc_id")),

    // CCNet-style PERPLEXITY FILTERING, made integer-exact: score each doc
    // by its mean unigram surprisal under the corpus's own language model,
    // then bucket into head/middle/tail (the CCNet split that decides what
    // a pretraining pipeline keeps). Surprisal of a token with corpus
    // count c out of N total is floor(log2(N/c)) bits, computed as
    // length(bin(N div c)) - 1 — pure integer arithmetic, so the score is
    // bit-identical at any parallelism and in the oracle (no float log).
    // Plan shape: one corpus tokenize (map), a token-count hash agg, an
    // equi-join of token instances to their counts (the count dictionary
    // shuffles once; at 100 TB it is still ~vocab-sized, far smaller than
    // the corpus), and a per-doc hash agg. The single-row N joins in as a
    // broadcast cross.
    "text_surprisal_bucket" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = counts.agg(sum("c").as("n_total"))
      val bits = toks.join(counts, "tok")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          (length(bin(expr("n_total div c"))) - 1).cast("long").as("b"))
      bits.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("b").as("surprisal_bits"))
        .withColumn("mean_bits_milli",
          expr("(surprisal_bits * 1000) div n_tok"))
        .withColumn("bucket",
          when(col("mean_bits_milli") < 4020, lit("head"))
            .when(col("mean_bits_milli") < 4045, lit("middle"))
            .otherwise(lit("tail")))
        .orderBy("doc_id")
    }),

    // HASHING-TRICK FEATURIZER (Weinberger et al. 2009): tokens map to a
    // fixed 64-dim space via dim = hash60(tok) % 64, with a second hash
    // bit supplying a ±1 sign so colliding tokens cancel in expectation
    // rather than accumulate (the collision-unbiasing the signed trick
    // exists for). Emitted as sparse (doc_id, dim, value, n_terms) rows —
    // the shape a downstream trainer consumes. Pure map + one per-doc
    // hash agg; no vocabulary table exists at ALL (that is the point of
    // the trick at 100 TB — featurization without a fitted dictionary).
    "feature_hash_vector" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), TextOps.hash60(col("tok")).as("h"))
        .select(col("doc_id"),
          (col("h") % 64).as("dim"),
          when(expr("(h div 64) % 2") === 1, lit(1L))
            .otherwise(lit(-1L)).as("sign"))
        .groupBy("doc_id", "dim")
        .agg(sum("sign").as("value"), count(lit(1)).as("n_terms"))
        .orderBy("doc_id", "dim")),

    // EXACT-SUBSTRING span dedup (the char-level family member beside the
    // word-shingle MinHash and line-level dedups): stride-16 32-char
    // grams are hashed corpus-wide; a gram seen in MORE THAN ONE doc
    // marks its position, and adjacent marked positions (gap ≤ 32) merge
    // gaps-and-islands-style into contiguous duplicated spans — the
    // "remove repeated passages, keep the rest" primitive for boilerplate
    // and licence blocks. The stride bounds fan-out at n_chars/16 rows
    // per doc; candidate marking is a hash-agg + equi-join (never
    // pairwise); the island windows partition per doc and are bounded by
    // the doc's own gram count.
    "dedup_substring_span" -> ((s, d) => {
      val g = Tables.documents(s, d).filter(col("n_chars") >= 32)
        .select(col("doc_id"), col("text"),
          explode(expr(
            "transform(sequence(0, CAST((n_chars - 32) div 16 AS INT)), i -> CAST(i AS BIGINT) * 16)"))
            .as("p"))
        .select(col("doc_id"), col("p"),
          TextOps.hash60(expr("substring(text, CAST(p + 1 AS INT), 32)")).as("h"))
      val dup = g.groupBy("h").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") > 1).select("h")
      val w = Window.partitionBy("doc_id").orderBy("p")
      g.join(dup, "h").select("doc_id", "p")
        .withColumn("brk",
          when(col("p") - lag("p", 1).over(w) <= 32, 0L).otherwise(1L))
        .withColumn("span", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "span")
        .agg(min("p").as("span_start"), (max("p") + 32).as("span_end"),
          count(lit(1)).as("n_grams"))
        .select("doc_id", "span_start", "span_end", "n_grams")
        .orderBy("doc_id", "span_start")
    }),

    // Document fingerprinting: whole-text 60-bit hash + min 5-gram shingle
    // hash (winnowing-style content fingerprint robust to suffix edits).
    // Same explode + partial-min aggregate shape as the minhash signature;
    // explode_outer keeps short docs (no shingles → null fp, zero count).
    "text_fingerprint" -> ((s, d) => {
      // min/count over the SHARED persisted 5-gram table (one corpus
      // shingling pass amortized with contamination_ngram); left join
      // keeps short docs with a null fingerprint and zero count, exactly
      // like the previous explode_outer form
      val agg = gram5Hashes(s, d)
        .groupBy("doc_id")
        .agg(min(col("gh")).as("min_shingle_fp"), count(lit(1)).as("n_shingles"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.hash60(col("text")).as("fp"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("fp"), col("min_shingle_fp"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
        .orderBy("doc_id")
    }),

    // Deterministic corpus sampling: hash-mod selection (md5-derived, so
    // any engine draws the identical sample — unlike rand()-based
    // sampling). The 100 TB shape: a pushed-down filter, no shuffle, and
    // the rate tunes by the modulus.
    "sample_hash_mod" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(TextOps.hash60(col("doc_id").cast("string")) % 10 === 0)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): rank a candidate
    // pool by how target-like its HASHED-N-GRAM distribution is. Token
    // features hash into 256 buckets (bounded model size at any corpus
    // scale); per-bucket add-one-smoothed log ratios
    // ln(p_target/p_pool) quantize to integer milli, so per-doc weights
    // are integer sums (partition-order independent). Scale: the λ table
    // is 256 rows (broadcast); bucket counts are exploded-scan hash
    // aggs; scoring is one broadcast join + one doc-keyed hash agg —
    // the corpus shuffles once, the model never.
    "sample_dsir_weights" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("w"))
        .withColumn("b", TextOps.hash60(col("w")) % 256)
      val tgt = tok.filter(col("source").isin("src0", "src1"))
      val pool = tok.filter(!col("source").isin("src0", "src1"))
      val lam = s.range(256).select(col("id").as("b"))
        .join(tgt.groupBy("b").agg(count(lit(1)).as("ct")), Seq("b"), "left")
        .join(pool.groupBy("b").agg(count(lit(1)).as("cp")), Seq("b"), "left")
        .crossJoin(broadcast(tgt.agg(count(lit(1)).as("nt"))))
        .crossJoin(broadcast(pool.agg(count(lit(1)).as("np"))))
        .select(col("b"), expr(
          """CAST(round(ln(((coalesce(ct, 0) + 1.0) / (nt + 256)) /
            |((coalesce(cp, 0) + 1.0) / (np + 256))) * 1000) AS BIGINT)"""
            .stripMargin).as("lam_milli"))
      pool.join(broadcast(lam), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("lam_milli").as("weight_milli"))
        .orderBy(col("weight_milli").desc, col("doc_id"))
        .limit(50)
    }),

    // ---- deduplication -------------------------------------------------
    // Exact dedup by content hash: hash-aggregate on sha256(text), keep
    // the lowest doc_id per group. One shuffle on the hash key; at 100 TB
    // this is the standard first dedup pass.
    "dedup_exact_doc" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")),

    // MinHash-LSH banding: per-doc k=8 signature → b=4 bands of r=2 →
    // one row per (doc, band key). This is the materialized join key for
    // near-dup candidate generation.
    "dedup_minhash_band" -> ((s, d) =>
      minhashBands(s, d).orderBy("doc_id", "band")),

    // Near-dup candidate pairs: self-equi-join on the band key (shuffle
    // on band_key — NOT an all-pairs scan; 500 docs → 35 candidates at
    // sf0.01, and the same plan holds at any corpus size). Both join
    // sides read the memoized persisted band table, so the signature
    // aggregation runs once per (session, dir), not 4× per query.
    "dedup_minhash_pairs" -> ((s, d) => {
      val b = minhashBands(s, d)
      b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
        .orderBy("d1", "d2")
    }),

    // The quadratic-candidate guard every production LSH dedup needs: a
    // degenerate band key shared by B documents emits B² candidate pairs
    // (one boilerplate header shared by 1M docs → 10¹² pairs from a
    // single band). Cap = drop bands whose population exceeds the
    // threshold BEFORE the self-join, so worst-case candidate volume is
    // bounded by cap²·n_bands regardless of content. Hot bands are few
    // by definition — the ban list broadcasts. Threshold 2 here so the
    // tiny corpus actually exercises the ban path (production uses
    // hundreds); pairs supported only by over-populated bands vanish.
    "dedup_minhash_capped" -> ((s, d) => {
      val b = minhashBands(s, d)
      val hot = b.groupBy("band", "band_key")
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 2)
        .select("band", "band_key")
      val cold = b.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
      cold.as("x").join(cold.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
        .orderBy("d1", "d2")
    }),

    // Incremental dedup — today's ingest against the standing corpus:
    // candidates are (new × old) band matches ONLY, so per-day work
    // scales with |ingest| · band-collision rate, never |corpus|². The
    // corpus band table is the persisted artifact a production pipeline
    // maintains across days (here: the shared persisted minhashBands);
    // new-vs-new pairs are the next day's corpus problem by convention.
    "dedup_incremental_pairs" -> ((s, d) => {
      val b = minhashBands(s, d)
      val fresh = b.filter(col("doc_id") % 10 === 0)
      val corpus = b.filter(col("doc_id") % 10 =!= 0)
      fresh.as("x").join(corpus.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key"))
        .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
        .distinct()
        .orderBy("new_id", "old_id")
    }),

    // Cross-RUN incremental dedup: same semantics as the query above, but
    // the standing band table crosses a PROCESS boundary — written once as
    // a parquet artifact at a deterministic path (no run nonce: the
    // artifact IS the state a daily pipeline maintains), then read back by
    // path, and the DuckDB oracle reads the very same files. Per-day cost
    // = signature pass over the ingest + one band equi-join against the
    // artifact scan; appending today's fresh bands to the artifact (the
    // `.mode("append")` away) rolls the corpus forward for tomorrow.
    "dedup_incremental_persisted" -> ((s, d) => {
      val path = standingBandsPath(d)
      // day-0 bootstrap, idempotent overwrite so reruns stay deterministic
      minhashBands(s, d).filter(col("doc_id") % 10 =!= 0)
        .write.mode("overwrite").parquet(path)
      val standing = s.read.parquet(path)
      val fresh = minhashBands(s, d).filter(col("doc_id") % 10 === 0)
      fresh.as("x").join(standing.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key"))
        .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
        .distinct()
        .orderBy("new_id", "old_id")
    }),

    // The full near-dup pipeline closed end-to-end: MinHash-LSH candidate
    // generation (band join, never all-pairs) → exact edit-distance
    // verification on the tiny candidate set. Levenshtein is quadratic
    // per pair — affordable precisely BECAUSE banding already cut 125k
    // potential pairs to ~35.
    "dedup_fuzzy_verify" -> ((s, d) => {
      // hot-band cap (threshold 8) BEFORE the self-join, exactly as in
      // dedup_edit_prefilter: the per-pair levenshtein is the expensive
      // kernel, and uncapped band pairs grow quadratically on a
      // duplicate-heavy corpus (r9 sf1 measured 16× at 10× data; the
      // ScaleExperiment pins the capped pair count ≤ 28·n_docs — linear).
      val b = minhashBands(s, d)
      val hot = b.groupBy("band", "band_key")
        .agg(count(lit(1)).as("n")).filter(col("n") > 8)
        .select("band", "band_key")
      val cold = b.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
      val pairs = cold.as("x").join(cold.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      // SimHash Hamming pre-gate (VERDICT r12 item 4): the 60-bit token
      // SimHash (materialized once per corpus for the simhash family)
      // screens candidate pairs BEFORE any text is joined or DP run —
      // two longs XORed per pair vs an O(thr·len) edit-distance kernel.
      // Threshold 14: measured at sf0.1, every lev-passing pair has
      // Hamming ≤ 11 (failing pairs median 18), so the screen skips the
      // bulk of the failing DP calls with margin to spare. The oracle
      // applies the IDENTICAL screen (same md5-derived bits in DuckDB),
      // so survivors carry exact distances and the compare stays exact.
      val sig = simhashSigs(s, d)
      val screened = pairs
        .join(sig.select(col("doc_id").as("d1"), col("simhash").as("s1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("simhash").as("s2")), "d2")
        .filter(expr(s"bit_count(s1 ^ s2) <= $FuzzyScreenHamming"))
        .select("d1", "d2")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      screened
        .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        // Per-pair edit budget: 20% of the longer doc — a verify keeps
        // near-dups, it doesn't score arbitrary pairs. Three cheap gates
        // run BEFORE any DP (r11 verdict item 8 + r13): (1) edit distance
        // >= |length difference|, so a two-int comparison drops
        // length-incompatible pairs with zero DP work; (2) BYTE-EQUAL
        // pairs short-circuit to distance 0 — lev(t,t)=0 by definition,
        // and on a duplicate-heavy corpus the surviving candidate set is
        // DOMINATED by exact clones, so an O(len) memcmp replaces the
        // kernel on most pairs; (3) the BIT-PARALLEL Myers kernel
        // (TextOps.levenshteinBP, r14 — DP inputs measured 98.6% DISTINCT
        // content at sf1, so the r13-proposed once-per-content grouping
        // only added a shuffle; the win is per-pair cost) computes the
        // exact distance in O(len·⌈len/64⌉) word ops when it is <= thr
        // and bails at -1 otherwise — ~12× fewer operations than the
        // banded Ukkonen DP's O(len·thr) cells at these doc lengths.
        // Survivors are exactly {lev <= thr} with exact distances,
        // identical to the oracle's unbanded filter (kernel pinned equal
        // to Spark's levenshtein in TextVectorOpsSpec).
        .withColumn("thr", expr("CAST(greatest(length(t1), length(t2)) div 5 AS INT)"))
        .filter(abs(length(col("t1")) - length(col("t2"))) <= col("thr"))
        // the kernel lands under a GENERATE (explode of a 1-element
        // array): predicates on a generated column cannot push through
        // Generate, so the >= 0 filter and the dist_milli projection both
        // read the ONE computed value — as a plain column,
        // PushPredicateThroughNonJoin inlined the whole when/levenshtein
        // into the filter and the kernel ran 2-3x per pair (measured
        // 4.7 s -> 14.6 s at sf1)
        .select(col("d1"), col("d2"), col("t1"), col("t2"),
          explode(array(when(col("t1") === col("t2"), lit(0L))
            .otherwise(graft.ops.TextOps.levenshteinBP(
              col("t1"), col("t2"), col("thr")).cast("long"))))
            .as("edit_dist"))
        .filter(col("edit_dist") >= 0)
        .select(col("d1"), col("d2"), col("edit_dist"),
          expr("edit_dist * 1000 div greatest(length(t1), length(t2))")
            .as("dist_milli"))
        .orderBy("d1", "d2")
    }),

    // Exact n-gram Jaccard similarity on the MinHash candidate pairs —
    // the set-overlap twin of the edit-distance verify above (the metric
    // MinHash estimates, computed exactly on the pruned pair set):
    // J = |shingles₁ ∩ shingles₂| / |shingles₁ ∪ shingles₂|.
    "dedup_jaccard_verify" -> ((s, d) => {
      // same hot-band cap as dedup_fuzzy_verify — the exact-Jaccard
      // kernel (array_intersect over shingle sets) is just as per-pair
      // expensive as levenshtein, so the twin inherits the linear bound
      val b = minhashBands(s, d)
      val hot = b.groupBy("band", "band_key")
        .agg(count(lit(1)).as("n")).filter(col("n") > 8)
        .select("band", "band_key")
      val cold = b.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
      val pairs = cold.as("x").join(cold.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      // same memoization as the band table: the exact shingle sets feed
      // BOTH join sides, so compute them once per (session, dir)
      val sh = Scratch.materialize("jaccard_shingles", s, d) {
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("sh"))
      }
      pairs
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("s1"), col("s2"))).cast("long").as("n_common"),
          expr("CAST(size(array_intersect(s1, s2)) AS BIGINT) * 1000 div " +
            "size(array_distinct(concat(s1, s2)))").as("jaccard_milli"))
        .orderBy("d1", "d2")
    }),

    // DEDUP OPERATING CURVE — the threshold-tuning artifact every dedup
    // rollout needs: for Jaccard thresholds 500..900 milli, how many of
    // the LSH candidate pairs would be confirmed as duplicates? One
    // exact-Jaccard pass over the (pruned) candidate set, a 5-row
    // threshold broadcast fan-out, one small aggregate — the sweep costs
    // one verify, not five, because the per-pair score is computed once
    // and compared five ways. confirm_ppm is the dial a steward reads
    // before picking the production threshold.
    "dedup_threshold_curve" -> ((s, d) => {
      val b = minhashBands(s, d)
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val sh = Scratch.materialize("jaccard_shingles", s, d) {
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("sh"))
      }
      val scored = pairs
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
        .select(expr("CAST(size(array_intersect(s1, s2)) AS BIGINT) * 1000 div " +
          "size(array_distinct(concat(s1, s2)))").as("jaccard_milli"))
      val ts = s.range(5, 10).select((col("id") * 100).as("threshold_milli"))
      scored.crossJoin(broadcast(ts))
        .groupBy("threshold_milli")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard_milli") >= col("threshold_milli"), 1L)
            .otherwise(0L)).as("n_confirmed"))
        .withColumn("confirm_ppm", expr("n_confirmed * 1000000 div n_candidates"))
        .orderBy("threshold_milli")
    }),

    // Asymmetric CONTAINMENT on the candidate pairs: |A∩B| / |A| and
    // / |B| in exact milli. Jaccard misses subset duplication — a short
    // doc quoted wholesale inside a long one scores low J but 1000-milli
    // containment on the short side — and that's the common shape of
    // training-set contamination (a benchmark item embedded in a web
    // page). Same banded candidate set and shared shingle artifact as the
    // Jaccard verify; only the normalization differs.
    "text_minhash_containment" -> ((s, d) => {
      val b = minhashBands(s, d)
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val sh = Scratch.materialize("jaccard_shingles", s, d) {
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("sh"))
      }
      pairs
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
        .select(col("d1"), col("d2"),
          expr("CAST(size(array_intersect(s1, s2)) AS BIGINT) * 1000 div size(s1)")
            .as("contain1_milli"),
          expr("CAST(size(array_intersect(s1, s2)) AS BIGINT) * 1000 div size(s2)")
            .as("contain2_milli"))
        .orderBy("d1", "d2")
    }),

    // Estimator calibration for the k=8 MinHash: per candidate pair, the
    // SIGNATURE-only Jaccard estimate (matching components / 8, exact
    // eighths in milli) beside the exact shingle Jaccard and the signed
    // error. At 100 TB this is the design trade made measurable: the
    // estimate joins two 64-byte signatures (no document text touched),
    // so a pipeline can tier its verify — accept on high estimate, reject
    // on low, pay the exact set intersection only in the uncertain band.
    "dedup_minhash_estimate" -> ((s, d) => {
      val b = minhashBands(s, d)
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val sigs = Scratch.materialize("minhash_sigs", s, d) {
        Tables.documents(s, d)
          .filter(size(TextOps.tokens(col("text"))) >= 3)
          .select(col("doc_id"),
            TextOps.minHashSigNative(
              TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("sig"))
      }
      val sh = Scratch.materialize("jaccard_shingles", s, d) {
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_distinct(TextOps.wordShingles(TextOps.tokens(col("text")), 3)).as("sh"))
      }
      pairs
        .join(sigs.select(col("doc_id").as("d1"), col("sig").as("g1")), "d1")
        .join(sigs.select(col("doc_id").as("d2"), col("sig").as("g2")), "d2")
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
        .select(col("d1"), col("d2"),
          expr("CAST(size(filter(zip_with(g1, g2, (a, b) -> a = b), m -> m)) AS BIGINT)")
            .as("n_match"),
          expr("CAST(size(filter(zip_with(g1, g2, (a, b) -> a = b), m -> m)) AS BIGINT) * 125")
            .as("est_milli"),
          expr("CAST(size(array_intersect(s1, s2)) AS BIGINT) * 1000 div " +
            "size(array_distinct(concat(s1, s2)))").as("jaccard_milli"))
        .withColumn("err_milli", col("est_milli") - col("jaccard_milli"))
        .orderBy("d1", "d2")
    }),

    // The DECISION form of the verify stage: keep candidate pairs whose
    // edit distance is within a bound. The `levenshtein <= k` predicate is
    // what [[graft.plans.LevenshteinThresholdRewrite]] rewrites into a
    // length prefilter + banded O(k·n) DP — on the 100 TB corpus this
    // predicate runs once per LSH candidate pair, so the optimizer rule
    // (not the query shape) is the scale lever here. Result is identical
    // with or without the rule (pinned by ExtensionsSpec + this oracle).
    // Sorted-neighborhood dedup blocking — the third blocking family
    // beside LSH bands and sign-LSH buckets: sort by a prefix key within
    // hash-bounded blocks, compare each doc only to its next 2 neighbors
    // in sort order (candidate count is 2n, never n²), verify with
    // bounded edit distance (the LevenshteinThresholdRewrite rule turns
    // the filter into a length guard + banded DP). Cross-block neighbor
    // misses are inherent to blocked SNM; production runs multi-pass with
    // rotated keys.
    "dedup_sorted_neighborhood" -> ((s, d) => {
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k"),
          substring(col("text"), 1, 40).as("p40"),
          substring(col("text"), 1, 1).as("blk"))
      val w = Window.partitionBy("blk").orderBy("k", "doc_id")
      val wn = keyed
        .withColumn("n1_id", lead("doc_id", 1).over(w))
        .withColumn("n1_p", lead("p40", 1).over(w))
        .withColumn("n2_id", lead("doc_id", 2).over(w))
        .withColumn("n2_p", lead("p40", 2).over(w))
      val pairs = wn.select(col("doc_id").as("d1"), col("n1_id").as("d2"),
          col("p40").as("pa"), col("n1_p").as("pb"))
        .unionAll(wn.select(col("doc_id"), col("n2_id"), col("p40"),
          col("n2_p")))
        .filter(col("d2").isNotNull)
      pairs
        .withColumn("dist", levenshtein(col("pa"), col("pb")).cast("long"))
        .filter(col("dist") <= 12)
        .select("d1", "d2", "dist")
        .orderBy("d1", "d2")
    }),

    "dedup_edit_prefilter" -> ((s, d) => {
      // hot-band cap (threshold 8) BEFORE the self-join: the full-text
      // levenshtein verify is the most expensive per-pair kernel in the
      // dedup family, so this query must inherit the capped candidate
      // bound (≤ cap²·n_bands per bucket) — the r9 sf1 bench measured the
      // uncapped version going 156× on a duplicate-heavy 10× corpus,
      // exactly the blow-up dedup_minhash_capped documents.
      val b = minhashBands(s, d)
      val hot = b.groupBy("band", "band_key")
        .agg(count(lit(1)).as("n")).filter(col("n") > 8)
        .select("band", "band_key")
      val cold = b.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
      val pairs = cold.as("x").join(cold.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      pairs
        .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        .filter(levenshtein(col("t1"), col("t2")) <= 30)
        .select(col("d1"), col("d2"))
        .orderBy("d1", "d2")
    }),

    // Degree profile of the near-dup candidate graph: how many partners
    // each doc has, and how many docs sit at each degree. This is the
    // quantity that predicts connected-components round count and the
    // band-join output volume — the first thing to inspect when LSH
    // parameters are being tuned at corpus scale.
    "dedup_degree_stats" -> ((s, d) => {
      val b = minhashBands(s, d)
      val pairs = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      pairs.select(col("d1").as("doc")).unionAll(pairs.select(col("d2").as("doc")))
        .groupBy("doc").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // Near-dup CLUSTERS: candidate pairs collapsed by transitivity
    // (A~B, B~C ⇒ one cluster) via distributed min-label propagation —
    // without this, keep-one-per-pair dedup retains both endpoints of
    // every chain. cluster_id = min doc_id in the component; the oracle
    // reproduces it with a recursive CTE over the same band-join pairs.
    "dedup_cluster" -> ((s, d) =>
      ccLabels(s, d)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy("doc_id")),

    // SoftDeDup: instead of DROPPING near-duplicates, every document is
    // kept with sampling weight 1/cluster_size (ppm) — the training-data
    // variant that preserves coverage while removing duplication bias
    // (each near-dup CLUSTER contributes one unit of effective mass in
    // expectation). Singletons (not in any cluster) weigh 1e6; reuses the
    // shared CC-label artifact, so the marginal cost over dedup_cluster
    // is one size aggregate and one left join on doc_id.
    "dedup_softdedup_weights" -> ((s, d) => {
      val labels = ccLabels(s, d)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      val sized = labels.join(
        labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
      Tables.documents(s, d).select(col("doc_id"))
        .join(sized.select(col("doc_id"), col("cluster_size")), Seq("doc_id"), "left")
        .na.fill(1L, Seq("cluster_size"))
        .selectExpr("doc_id", "cluster_size",
          "1000000 div cluster_size AS weight_ppm")
        .orderBy("doc_id")
    }),

    // Canonical-document selection — the step that turns near-dup
    // CLUSTERS into a dedup decision: per cluster keep the
    // highest-quality member (stopword-density milli-score, ties to the
    // lowest doc_id via max(struct(score, -id)) — an associative
    // aggregate with map-side partial combine, not a window sort).
    // Output is the per-cluster audit: size, kept doc, its score.
    "dedup_keep_best" -> ((s, d) => {
      val labels = ccLabels(s, d)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      val q = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          size(filter(col("toks"), t => t.isin("the", "a", "of")))
            .cast("long").as("stop_hits"))
        .select(col("doc_id"), expr("(stop_hits * 1000) div n_tok").as("score_milli"))
      labels.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("score_milli"), (-col("doc_id")).as("neg_id"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          col("m.score_milli").as("best_score_milli"),
          (-col("m.neg_id")).as("kept_doc_id"))
        .orderBy("cluster_id")
    }),

    // The whole corpus-cleaning pass as ONE query — the composition a
    // pre-training pipeline actually runs, end to end: quality filter
    // (pure map work) → exact dedup (one shuffle on sha256) → near-dup
    // CLUSTER collapse (banded candidate pairs → connected components →
    // keep the min doc_id per cluster; pair-loser removal alone keeps
    // both endpoints of un-attested transitive pairs). Candidate
    // generation stays an equi-join, never all-pairs. Every stage is the
    // already-oracled primitive; this pins their composition.
    "pipeline_corpus_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = docs
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") >= 3)
        .withColumn("stop_hits",
          size(filter(col("toks"), t => t.isin("the", "a", "of"))).cast("long"))
        .filter(expr("(stop_hits * 1000) div n_tok") >= 40 &&
          length(col("text")).between(50, 5000))
      val exact = quality
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val nearDupLosers = ccLabels(s, d)
        .filter(col("id") =!= col("comp")) // everyone but the cluster keeper
        .select(col("id").as("doc_id"))
      exact.select("doc_id")
        .join(nearDupLosers, Seq("doc_id"), "left_anti")
        .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // Per-document 60-bit SimHash signature.
    "dedup_simhash" -> ((s, d) =>
      simhashSigs(s, d).orderBy("doc_id")),

    // SimHash near-dup pairs: candidates via 15-bit band blocking (a
    // Hamming-≤4 pair agrees on ≥1 of 4 bands by pigeonhole), verified by
    // bit_count(xor) — again a band equi-join, never all-pairs.
    "dedup_simhash_pairs" -> ((s, d) => {
      val sig = simhashSigs(s, d)
      val bands = sig
        .select(col("doc_id"), col("simhash"),
          explode(TextOps.simHashBands(col("simhash"))).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.simhash").as("s1"), col("y.simhash").as("s2"))
        .distinct()
        .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
        .filter(col("hamming") <= 4)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    }),

    // ---- similarity search --------------------------------------------
    // Brute-force cosine top-k (the correctness baseline): 5 query
    // vectors broadcast against all candidates; sequential-fold double
    // arithmetic makes the scores engine-reproducible bit-for-bit.
    "ann_cosine_topk" -> ((s, d) => {
      val e = embVecs(s, d)
      val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
      val c = e.filter(col("vec_id") >= 5)
      val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id").asc)
      c.crossJoin(broadcast(q))
        .withColumn("cosine", VectorOps.cosine(col("qv"), col("v")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select("q_id", "vec_id", "cosine", "rnk")
        .orderBy("q_id", "rnk")
    }),

    // Same top-k, computed by the custom TopKAggregator instead of a
    // rank-filtered window: O(k) state per query, map-side partial
    // merge, no sort of the candidate set — the aggregation shape for
    // top-k-per-group when groups are huge and k is small. The oracle is
    // the same ranking SQL, proving aggregator ≡ window.
    "ann_topk_agg" -> ((s, d) => {
      val e = embVecs(s, d)
      val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
      val c = e.filter(col("vec_id") >= 5)
      // udaf() flattens the Scored input encoder into (score, id) args
      val topk = udaf(new graft.functions.TopKAggregator(10))
      c.crossJoin(broadcast(q))
        .select(col("q_id"),
          VectorOps.cosine(col("qv"), col("v")).as("score"), col("vec_id"))
        .groupBy("q_id")
        .agg(topk(col("score"), col("vec_id")).as("top"))
        .select(col("q_id"), posexplode(col("top")))
        .select(col("q_id"), col("col.id").as("vec_id"),
          col("col.score").as("cosine"), (col("pos") + 1).cast("long").as("rnk"))
        .orderBy("q_id", "rnk")
    }),

    // IVF-style bucketed ANN (the scale path): assign every vector to its
    // nearest of 8 deterministic centroids (vec_id < 8), probe the 2
    // nearest centroid buckets per query, search only inside them. The
    // candidate set shrinks by ~bucket-count×(probes/buckets); the final
    // join is an equi-join on bucket id.
    "ann_ivf_topk" -> ((s, d) =>
      ivfTop5(s, d).orderBy("q_id", "rnk")),

    // Recall@5 of the IVF search against exhaustive search over the same
    // universe — the approximation-quality metric every ANN deployment
    // tracks. Both rankings are the already-oracled shapes; the metric is
    // an equi-join on (q_id, vec_id) + a count, in exact milli-units.
    "ann_recall" -> ((s, d) => {
      val hits = ivfTop5(s, d).select("q_id", "vec_id")
        .join(bruteTop5(s, d).select("q_id", "vec_id"), Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
      bruteTop5(s, d).select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_milli", expr("n_hits * 1000 div 5"))
        .orderBy("q_id")
    }),

    // SQL-surface parity for the native vector expressions: the same
    // codegen'd CosineSimilarity/DotProduct, reached through the
    // FunctionRegistry (`cosine_sim`, `dot_product`) instead of the Column
    // API. `register` is idempotent and session-local, so the query works
    // under any driver-owned session; cluster deploys get the same entries
    // from `spark.sql.extensions=graft.plans.GraftExtensions`.
    "sql_native_cosine" -> ((s, d) => {
      graft.plans.GraftFunctions.register(s)
      s.sql(
        s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
           |  cosine_sim(a.embedding, b.embedding) AS cosine,
           |  dot_product(a.embedding, b.embedding) AS dot
           |FROM parquet.`$d/embeddings.parquet` a
           |JOIN parquet.`$d/embeddings.parquet` b ON b.vec_id = a.vec_id + 1
           |ORDER BY v1""".stripMargin)
    }),

    // SQL-surface parity for the native portable hash: the same codegen'd
    // PortableHash60 reached via the FunctionRegistry — proving a pure-SQL
    // user gets the identical engine-portable hash the Column API uses for
    // sampling/splitting/dedup keying.
    "sql_native_hash" -> ((s, d) => {
      graft.plans.GraftFunctions.register(s)
      s.sql(
        s"""SELECT doc_id, portable_hash60(CAST(doc_id AS STRING)) AS h,
           |  portable_hash60(CAST(doc_id AS STRING)) % 100 AS bucket
           |FROM parquet.`$d/documents.parquet`
           |ORDER BY doc_id""".stripMargin)
    }),

    // SQL-surface parity for native shingling: word_shingles via the
    // FunctionRegistry (a pure-SQL user gets the same compiled loop the
    // Column API uses on every LSH path), exploded to the top-10 3-gram
    // census — the n=3 companion to text_ngram_top's bigram form.
    "sql_native_shingles" -> ((s, d) => {
      graft.plans.GraftFunctions.register(s)
      s.sql(
        s"""SELECT gram, COUNT(*) AS n
           |FROM (SELECT explode(word_shingles(split(text, ' '), 3)) AS gram
           |      FROM parquet.`$d/documents.parquet`)
           |GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 10""".stripMargin)
    }),

    // Embedding near-dup via sign-LSH: 8 hyperplanes (the first 8 vectors)
    // give an 8-bit bucket; same-bucket pairs (540 of 125k possible at
    // sf0.01) are verified by exact cosine ≥ 0.3. Bucketing is a broadcast
    // join + hash agg; candidates are an equi-join on bucket.
    "dedup_embedding_cosine" -> ((s, d) => {
      val e = embVecs(s, d)
      val planes = e.filter(col("vec_id") < 8).select(col("vec_id").as("p_id"), col("v").as("pv"))
      val buckets = e.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          when(VectorOps.dot(col("v"), col("pv")) >= 0,
            expr("shiftleft(1L, CAST(p_id AS INT))")).otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id")
        .agg(sum("bit").as("bucket"))
      val bv = buckets.join(e, "vec_id")
      bv.as("x").join(bv.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine", VectorOps.cosine(col("x.v"), col("y.v")))
        .filter(col("cosine") >= 0.3)
        .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"), col("cosine"))
        .orderBy("d1", "d2")
    }),

    // HARD-NEGATIVE MINING — the contrastive-training twin of the query
    // above: same sign-LSH buckets generate the candidates, but the KEPT
    // pairs are the ones BELOW the similarity threshold — vectors the
    // hash thinks are close but aren't, exactly the informative negatives
    // a retrieval model trains on. Top-2 hardest (highest cosine among
    // negatives) per anchor via a rank window; candidate generation stays
    // a bucket equi-join, never all-pairs.
    "sample_hard_negatives" -> ((s, d) => {
      val e = embVecs(s, d)
      val planes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("p_id"), col("v").as("pv"))
      val buckets = e.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          when(VectorOps.dot(col("v"), col("pv")) >= 0,
            expr("shiftleft(1L, CAST(p_id AS INT))")).otherwise(lit(0L)).as("bit"))
        .groupBy("vec_id")
        .agg(sum("bit").as("bucket"))
      val bv = buckets.join(e, "vec_id")
      val w = Window.partitionBy("d1")
        .orderBy(col("cosine").desc, col("d2").asc)
      bv.as("x").join(bv.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .withColumn("cosine", VectorOps.cosine(col("x.v"), col("y.v")))
        .filter(col("cosine") < 0.3)
        .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"), col("cosine"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 2)
        .orderBy("d1", "neg_rank")
    }),

    // ONE-CALL corpus health report — the dashboard row a pipeline posts
    // after every ingest: corpus size and diversity, exact-duplicate
    // volume, near-duplicate pressure (LSH candidate pairs, from the
    // shared band artifact — no recompute), and quality-gate failures
    // (text_quality's exact predicate). Every input is a single-row
    // aggregate crossJoined together, so the "report" is one job over
    // one corpus scan plus the materialized band table.
    "corpus_health_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val basic = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      val exact = docs.groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
          .as("n_exact_dup_docs"))
      val b = minhashBands(s, d)
      val near = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
        .agg(count(lit(1)).as("n_near_dup_pairs"))
      val qual = docs
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(length(col("text")).cast("long").as("len_chars"),
          size(col("toks")).cast("long").as("n_tok"),
          size(filter(col("toks"), t => t.isin("the", "a", "of")))
            .cast("long").as("stop_hits"))
        .withColumn("ok",
          expr("(stop_hits * 1000) div n_tok") >= 40 &&
            col("len_chars").between(50, 5000))
        .agg(count(when(!col("ok"), lit(1))).as("n_quality_fail"))
      basic.crossJoin(exact).crossJoin(near).crossJoin(qual)
    }),

    // SEMANTIC dedup, cluster-blocked (the SemDeDup recipe): k-means
    // cluster assignment is the blocking key — candidate pairs form ONLY
    // within a cluster, then exact cosine ≥ 0.3 marks the duplicate and
    // the lowest vec_id in each near-dup relation is the kept
    // representative. This is the third embedding-blocking family beside
    // sign-LSH buckets (dedup_embedding_cosine) and IVF probes
    // (ann_ivf_topk): clustering concentrates semantic neighbors far
    // better than random hyperplanes, at the price of one broadcast
    // assignment pass. Scale: assignment is a broadcast crossjoin against
    // a constant-size centroid set + per-vector top-1; pair generation is
    // a bucket equi-join (15k candidates of 121k possible pairs at
    // sf0.01, 247 dropped). At 100 TB, k grows with the corpus so
    // per-cluster size stays bounded, and a hot cluster takes the same
    // cap discipline as dedup_minhash_capped.
    "dedup_semantic_cluster" -> ((s, d) => {
      val e = embVecs(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      val data = e.filter(col("vec_id") >= 8)
      val aw = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("c_id").asc)
      val asg = data.crossJoin(broadcast(cent))
        .withColumn("c_cos", VectorOps.cosine(col("v"), col("cv")))
        .withColumn("arank", row_number().over(aw))
        .filter(col("arank") === 1)
        .select(col("vec_id"), col("v"), col("c_id").as("bucket"))
      val dups = asg.as("x").join(asg.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .filter(VectorOps.cosine(col("x.v"), col("y.v")) >= 0.3)
        .groupBy(col("y.vec_id").as("vec_id"))
        .agg(min(col("x.vec_id")).as("kept_by"))
      asg.select("vec_id", "bucket").join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket"),
          col("kept_by").isNotNull.as("dropped"), col("kept_by"))
        .orderBy("vec_id")
    }),

    // LINE-LEVEL corpus dedup (RefinedWeb/CCNet-style): lines that repeat
    // across many documents are boilerplate (nav bars, cookie banners,
    // license headers) and are removed from EVERY document while the rest
    // of each document survives in order. The driver corpus is single-line,
    // so consecutive 3-token segments stand in for lines — the pipeline
    // shape is identical: explode to (doc, seg_idx, segment) → corpus-wide
    // distinct-doc frequency per segment → drop segments seen in ≥ 3 docs
    // (threshold calibrated on the fixtures: 248 of 7.6k distinct segments
    // fire at sf0.01, so BOTH the drop and keep paths are exercised) →
    // ordered reassembly per doc. Scale: one hash agg on segment (map-side
    // combine), one shuffle join segments×freq on the segment key, one
    // per-doc agg — cost ∝ corpus tokens, never pairs. At 100 TB the freq
    // table is Zipf-small and AQE broadcasts it back; no step is quadratic.
    "dedup_line_segments" -> ((s, d) => {
      val L = 3
      // materialized once: the frequency aggregate AND the join side both
      // consume the exploded segment relation — scratch parquet beats
      // re-running the explode per consumer (same discipline as the LSH
      // band tables)
      val segs = Scratch.materialize("line_segments", s, d) {
        Tables.documents(s, d)
          .select(col("doc_id"), posexplode(expr(
            s"""transform(sequence(0, CAST((size(split(text, ' ')) - 1) div $L AS INT)),
               |  i -> concat_ws(' ', slice(split(text, ' '), i * $L + 1, $L)))""".stripMargin)))
          .select(col("doc_id"), col("pos").cast("long").as("seg_idx"), col("col").as("seg"))
      }
      val freq = segs.groupBy("seg").agg(countDistinct("doc_id").as("df"))
      segs.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          count(when(col("df") >= 3, lit(1))).as("n_dropped"),
          expr("""concat_ws(' ', transform(
                 |  array_sort(collect_list(CASE WHEN df < 3 THEN struct(seg_idx, seg) END)),
                 |  r -> r.seg))""".stripMargin).as("cleaned_text"))
        .orderBy("doc_id")
    }),
  )

  // DuckDB-side signature machinery shared by the minhash oracles; the
  // permutation constants mirror TextOps.MinHashA/B.
  private val mhSigSql: String = {
    val p = TextOps.HashPrime
    val terms = TextOps.MinHashA.zip(TextOps.MinHashB).zipWithIndex.map {
      case ((a, b), j) =>
        s"list_min(list_transform(hashes, h -> ($a*(h%$p)+$b)%$p)) AS m$j"
    }.mkString(", ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  list_transform(range(1, len(t)-1), i -> array_to_string(list_slice(t, i, i+2), ' ')) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |hs AS (SELECT doc_id,
       |  list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hashes FROM sh),
       |sig AS (SELECT doc_id, $terms FROM hs),
       |bandtab AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS band, m0||'_'||m1 AS band_key FROM sig
       |  UNION ALL SELECT doc_id, CAST(1 AS BIGINT), m2||'_'||m3 FROM sig
       |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT), m4||'_'||m5 FROM sig
       |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT), m6||'_'||m7 FROM sig)""".stripMargin
  }

  private val simhashSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |hs AS (SELECT doc_id,
      |  list_transform(t, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hashes FROM toks),
      |sig AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(range(60), i ->
      |    CASE WHEN list_sum(list_transform(hashes, h -> ((h>>i)&1)*2-1)) >= 0
      |         THEN (1::BIGINT<<i) ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM hs)""".stripMargin

  /** Hamming cutoff of the fuzzy-verify SimHash pre-gate. 14 = measured
    * max lev-passing Hamming at sf0.1 (11) plus margin; failing pairs
    * median 18, so most DP calls are screened away. Mirrored verbatim in
    * the DuckDB oracle.
    */
  private[graft] val FuzzyScreenHamming = 14

  /** [[simhashSql]] under screen-prefixed CTE names so it composes with
    * [[mhSigSql]] in one WITH (both define toks/hs/sig).
    */
  private val simhashScreenSql: String =
    """scr_hs AS (SELECT doc_id,
      |  list_transform(string_split(text, ' '),
      |    s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS shashes FROM documents),
      |scr_sig AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(range(60), i ->
      |    CASE WHEN list_sum(list_transform(shashes, h -> ((h>>i)&1)*2-1)) >= 0
      |         THEN (1::BIGINT<<i) ELSE 0 END)) AS BIGINT) AS simhash
      |  FROM scr_hs)""".stripMargin

  // Sequential-fold cosine between two DOUBLE[] columns (bit-identical to
  // VectorOps.cosine: list_reduce folds left-to-right like `aggregate`).
  // Shared with CorpusQueries' centroid-assignment oracle.
  private[queries] def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b), z -> z[1]*z[2]), (x, y) -> x+y)
       | / (sqrt(list_reduce(list_transform($a, u -> u*u), (x, y) -> x+y))
       |   * sqrt(list_reduce(list_transform($b, u -> u*u), (x, y) -> x+y)))""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), z -> z[1]*z[2]), (x, y) -> x+y)"

  val oracle: Map[String, String] = Map(
    "text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        | CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN len(list_filter(toks, x -> x IN ('the', 'a'))) / len(toks) >= 0.05
        |       THEN 'en' ELSE 'unk' END AS pred_lang
        |  FROM t)
        |SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, len_chars, n_tok, n_punct, stop_hits,
        |  (stop_hits * 1000) // n_tok AS score_milli,
        |  ((stop_hits * 1000) // n_tok >= 40 AND len_chars BETWEEN 50 AND 5000) AS quality_ok
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_surprisal_bucket" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tc),
        |bits AS (SELECT doc_id,
        |    CAST(length(bin((SELECT n_total FROM tot) // c)) - 1 AS BIGINT) AS b
        |  FROM toks JOIN tc USING (tok)),
        |doc AS (SELECT doc_id, COUNT(*) AS n_tok,
        |    CAST(SUM(b) AS BIGINT) AS surprisal_bits FROM bits GROUP BY 1)
        |SELECT doc_id, n_tok, surprisal_bits,
        |  (surprisal_bits * 1000) // n_tok AS mean_bits_milli,
        |  CASE WHEN (surprisal_bits * 1000) // n_tok < 4020 THEN 'head'
        |       WHEN (surprisal_bits * 1000) // n_tok < 4045 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM doc ORDER BY doc_id""".stripMargin,
    "dedup_substring_span" ->
      """WITH pos AS (SELECT doc_id, text,
        |    unnest(range(0, (n_chars - 32) // 16 + 1)) * 16 AS p
        |  FROM documents WHERE n_chars >= 32),
        |g AS (SELECT doc_id, p,
        |    ('0x'||substr(md5(substr(text, CAST(p + 1 AS INT), 32)),1,15))::BIGINT AS h
        |  FROM pos),
        |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |m AS (SELECT doc_id, p FROM g JOIN dup USING (h)),
        |isl AS (SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 32
        |         THEN 0 ELSE 1 END AS brk FROM m),
        |grp AS (SELECT doc_id, p, CAST(SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY p ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span FROM isl)
        |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
        |  CAST(MAX(p) + 32 AS BIGINT) AS span_end, COUNT(*) AS n_grams
        |FROM grp GROUP BY doc_id, span ORDER BY doc_id, span_start""".stripMargin,
    "feature_hash_vector" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
        |s AS (SELECT doc_id, h % 64 AS dim,
        |    CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE -1 END AS sign FROM h)
        |SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS value,
        |  COUNT(*) AS n_terms
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | ('0x'||substr(md5(text),1,15))::BIGINT AS fp,
        | list_min(list_transform(
        |   list_transform(range(1, len(string_split(text,' '))-3),
        |     i -> array_to_string(list_slice(string_split(text,' '), i, i+4), ' ')),
        |   s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS min_shingle_fp,
        | CAST(len(list_transform(range(1, len(string_split(text,' '))-3),
        |   i -> array_to_string(list_slice(string_split(text,' '), i, i+4), ' '))) AS BIGINT) AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_hash_mod" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 10 = 0
        |ORDER BY doc_id""".stripMargin,
    "sample_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, source,
        |    ('0x'||substr(md5(w),1,15))::BIGINT % 256 AS b
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |tgt AS (SELECT * FROM tok WHERE source IN ('src0','src1')),
        |pool AS (SELECT * FROM tok WHERE source NOT IN ('src0','src1')),
        |tc AS (SELECT b, COUNT(*) AS ct FROM tgt GROUP BY 1),
        |pc AS (SELECT b, COUNT(*) AS cp FROM pool GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS nt FROM tgt),
        |np AS (SELECT COUNT(*) AS np FROM pool),
        |lam AS (SELECT r.b,
        |    CAST(round(ln(((COALESCE(ct, 0) + 1.0) / (nt + 256)) /
        |      ((COALESCE(cp, 0) + 1.0) / (np + 256))) * 1000) AS BIGINT)
        |      AS lam_milli
        |  FROM (SELECT unnest(range(0, 256)) AS b) r
        |    LEFT JOIN tc ON r.b = tc.b LEFT JOIN pc ON r.b = pc.b, nt, np)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(lam_milli) AS BIGINT) AS weight_milli
        |FROM pool JOIN lam ON pool.b = lam.b
        |GROUP BY 1 ORDER BY weight_milli DESC, doc_id LIMIT 50""".stripMargin,
    "dedup_exact_doc" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_minhash_band" ->
      s"""WITH $mhSigSql
         |SELECT doc_id, band, band_key FROM bandtab ORDER BY doc_id, band""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $mhSigSql
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |FROM bandtab a JOIN bandtab b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |ORDER BY d1, d2""".stripMargin,
    "dedup_fuzzy_verify" ->
      s"""WITH $mhSigSql,
         |$simhashScreenSql,
         |hot AS (SELECT band, band_key FROM bandtab
         |  GROUP BY 1, 2 HAVING COUNT(*) > 8),
         |cold AS (SELECT * FROM bandtab WHERE (band, band_key) NOT IN
         |  (SELECT (band, band_key) FROM hot)),
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM cold a JOIN cold b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |screened AS (SELECT d1, d2 FROM pairs
         |  JOIN scr_sig sa ON d1 = sa.doc_id JOIN scr_sig sb ON d2 = sb.doc_id
         |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $FuzzyScreenHamming)
         |SELECT d1, d2,
         |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist,
         |  CAST(levenshtein(x.text, y.text) AS BIGINT) * 1000
         |    // greatest(length(x.text), length(y.text)) AS dist_milli
         |FROM screened JOIN documents x ON d1 = x.doc_id JOIN documents y ON d2 = y.doc_id
         |WHERE CAST(levenshtein(x.text, y.text) AS BIGINT)
         |  <= greatest(length(x.text), length(y.text)) // 5
         |ORDER BY d1, d2""".stripMargin,
    "dedup_threshold_curve" ->
      s"""WITH $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, list_distinct(
         |    list_transform(range(1, len(string_split(text,' '))-1),
         |      i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS sh
         |  FROM documents),
         |scored AS (SELECT
         |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000
         |      // CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS jm
         |  FROM pairs JOIN shs x ON d1 = x.doc_id JOIN shs y ON d2 = y.doc_id),
         |ts AS (SELECT unnest([500, 600, 700, 800, 900]) AS threshold_milli)
         |SELECT CAST(threshold_milli AS BIGINT) AS threshold_milli,
         |  COUNT(*) AS n_candidates,
         |  CAST(SUM(CASE WHEN jm >= threshold_milli THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_confirmed,
         |  CAST(SUM(CASE WHEN jm >= threshold_milli THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS confirm_ppm
         |FROM scored CROSS JOIN ts GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_jaccard_verify" ->
      s"""WITH $mhSigSql,
         |hot AS (SELECT band, band_key FROM bandtab
         |  GROUP BY 1, 2 HAVING COUNT(*) > 8),
         |cold AS (SELECT * FROM bandtab WHERE (band, band_key) NOT IN
         |  (SELECT (band, band_key) FROM hot)),
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM cold a JOIN cold b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, list_distinct(
         |    list_transform(range(1, len(string_split(text,' '))-1),
         |      i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS sh
         |  FROM documents)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000
         |    // CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS jaccard_milli
         |FROM pairs JOIN shs x ON d1 = x.doc_id JOIN shs y ON d2 = y.doc_id
         |ORDER BY d1, d2""".stripMargin,
    "text_minhash_containment" ->
      s"""WITH $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, list_distinct(
         |    list_transform(range(1, len(string_split(text,' '))-1),
         |      i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS sh
         |  FROM documents)
         |SELECT d1, d2,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000
         |    // CAST(len(x.sh) AS BIGINT) AS contain1_milli,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000
         |    // CAST(len(y.sh) AS BIGINT) AS contain2_milli
         |FROM pairs JOIN shs x ON d1 = x.doc_id JOIN shs y ON d2 = y.doc_id
         |ORDER BY d1, d2""".stripMargin,
    "dedup_minhash_estimate" ->
      s"""WITH $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, list_distinct(
         |    list_transform(range(1, len(string_split(text,' '))-1),
         |      i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS sh
         |  FROM documents)
         |SELECT d1, d2,
         |  CAST((CASE WHEN sx.m0=sy.m0 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m1=sy.m1 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m2=sy.m2 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m3=sy.m3 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m4=sy.m4 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m5=sy.m5 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m6=sy.m6 THEN 1 ELSE 0 END)
         |     + (CASE WHEN sx.m7=sy.m7 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  n_match * 125 AS est_milli,
         |  CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) * 1000
         |    // CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS jaccard_milli,
         |  est_milli - jaccard_milli AS err_milli
         |FROM pairs JOIN sig sx ON d1 = sx.doc_id JOIN sig sy ON d2 = sy.doc_id
         |  JOIN shs x ON d1 = x.doc_id JOIN shs y ON d2 = y.doc_id
         |ORDER BY d1, d2""".stripMargin,
    "dedup_degree_stats" ->
      s"""WITH $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |deg AS (SELECT doc, COUNT(*) AS degree FROM (
         |    SELECT d1 AS doc FROM pairs UNION ALL SELECT d2 FROM pairs) t
         |  GROUP BY 1)
         |SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_cluster" ->
      s"""WITH RECURSIVE $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |cc AS (
         |  SELECT d1 AS id, d1 AS comp FROM pairs
         |  UNION SELECT d2, d2 FROM pairs
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.a)
         |SELECT id AS doc_id, MIN(comp) AS cluster_id FROM cc
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_softdedup_weights" ->
      s"""WITH RECURSIVE $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |cc AS (
         |  SELECT d1 AS id, d1 AS comp FROM pairs
         |  UNION SELECT d2, d2 FROM pairs
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
         |labels AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY 1),
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1),
         |sized AS (SELECT doc_id, cluster_size
         |  FROM labels JOIN sizes USING (cluster_id))
         |SELECT d.doc_id, COALESCE(cluster_size, 1) AS cluster_size,
         |  CAST(1000000 // COALESCE(cluster_size, 1) AS BIGINT) AS weight_ppm
         |FROM documents d LEFT JOIN sized s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "pipeline_corpus_clean" ->
      s"""WITH RECURSIVE $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |cc AS (
         |  SELECT d1 AS id, d1 AS comp FROM pairs
         |  UNION SELECT d2, d2 FROM pairs
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
         |losers AS (SELECT id AS doc_id FROM cc GROUP BY 1
         |  HAVING id <> MIN(comp)),
         |tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
         |q AS (SELECT doc_id, text FROM tok
         |  WHERE (len(list_filter(toks, x -> x IN ('the','a','of'))) * 1000)
         |          // len(toks) >= 40
         |    AND length(text) BETWEEN 50 AND 5000),
         |ex AS (SELECT sha256(text) AS h, MIN(doc_id) AS doc_id FROM q GROUP BY 1)
         |SELECT e.doc_id, d.lang, d.n_chars
         |FROM ex e JOIN documents d ON e.doc_id = d.doc_id
         |WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY e.doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $mhSigSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |cc AS (
         |  SELECT d1 AS id, d1 AS comp FROM pairs
         |  UNION SELECT d2, d2 FROM pairs
         |  UNION
         |  SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.a),
         |labels AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY 1),
         |q AS (SELECT doc_id,
         |    (CAST(len(list_filter(string_split(text, ' '),
         |       x -> x IN ('the', 'a', 'of'))) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_milli
         |  FROM documents),
         |sel AS (SELECT cluster_id, doc_id, score_milli,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score_milli DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM labels JOIN q USING (doc_id))
         |SELECT cluster_id, n_members, score_milli AS best_score_milli,
         |  doc_id AS kept_doc_id
         |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_minhash_capped" ->
      s"""WITH $mhSigSql,
         |hot AS (SELECT band, band_key FROM bandtab
         |  GROUP BY 1, 2 HAVING COUNT(*) > 2),
         |cold AS (SELECT b.* FROM bandtab b
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |    WHERE h.band = b.band AND h.band_key = b.band_key))
         |SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
         |FROM cold a JOIN cold c
         |  ON a.band = c.band AND a.band_key = c.band_key AND a.doc_id < c.doc_id
         |ORDER BY d1, d2""".stripMargin,
    "dedup_incremental_pairs" ->
      s"""WITH $mhSigSql
         |SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS old_id
         |FROM bandtab a JOIN bandtab c
         |  ON a.band = c.band AND a.band_key = c.band_key
         |WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |ORDER BY new_id, old_id""".stripMargin,
    // The standing side reads the SAME parquet artifact the Spark query
    // wrote (the correctness gate always runs at sf0.01; the path is
    // interpolated from standingBandsPath so it tracks java.io.tmpdir
    // instead of assuming /tmp) — only the fresh side is re-derived; a
    // mismatch in the artifact itself would fail the gate, which is the
    // point of the cross-process claim.
    "dedup_incremental_persisted" ->
      s"""WITH $mhSigSql
         |SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS old_id
         |FROM bandtab a
         |JOIN read_parquet('${standingBandsPath("sf0.01")}/*.parquet') c
         |  ON a.band = c.band AND a.band_key = c.band_key
         |WHERE a.doc_id % 10 = 0
         |ORDER BY new_id, old_id""".stripMargin,
    "sql_native_shingles" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT unnest(list_transform(range(1, len(t)-1),
        |    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS gram
        |  FROM toks WHERE len(t) >= 3)
        |SELECT gram, COUNT(*) AS n FROM grams GROUP BY 1
        |ORDER BY n DESC, gram ASC LIMIT 10""".stripMargin,
    "sql_native_hash" ->
      """SELECT doc_id,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_sorted_neighborhood" ->
      """WITH keyed AS (SELECT doc_id, substring(text, 1, 24) AS k,
        |    substring(text, 1, 40) AS p40, substring(text, 1, 1) AS blk
        |  FROM documents),
        |wn AS (SELECT doc_id, k, p40, blk,
        |    lead(doc_id, 1) OVER w AS n1_id, lead(p40, 1) OVER w AS n1_p,
        |    lead(doc_id, 2) OVER w AS n2_id, lead(p40, 2) OVER w AS n2_p
        |  FROM keyed WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)),
        |pairs AS (
        |  SELECT doc_id AS d1, n1_id AS d2, p40 AS pa, n1_p AS pb FROM wn
        |  UNION ALL
        |  SELECT doc_id, n2_id, p40, n2_p FROM wn)
        |SELECT d1, d2, levenshtein(pa, pb) AS dist
        |FROM pairs WHERE d2 IS NOT NULL AND levenshtein(pa, pb) <= 12
        |ORDER BY d1, d2""".stripMargin,
    "dedup_edit_prefilter" ->
      s"""WITH $mhSigSql,
         |hot AS (SELECT band, band_key FROM bandtab
         |  GROUP BY 1, 2 HAVING COUNT(*) > 8),
         |cold AS (SELECT * FROM bandtab WHERE (band, band_key) NOT IN
         |  (SELECT (band, band_key) FROM hot)),
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM cold a JOIN cold b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
         |SELECT d1, d2
         |FROM pairs JOIN documents x ON d1 = x.doc_id JOIN documents y ON d2 = y.doc_id
         |WHERE levenshtein(x.text, y.text) <= 30
         |ORDER BY d1, d2""".stripMargin,
    "sql_native_cosine" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  ${cosSql("a.v", "b.v")} AS cosine,
         |  ${dotSql("a.v", "b.v")} AS dot
         |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         |ORDER BY v1""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashSql,
         |bands AS (SELECT doc_id, simhash, CAST(b AS BIGINT) AS band,
         |    (simhash >> (15*b)) & 32767 AS key
         |  FROM sig, (SELECT unnest([0,1,2,3]) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
         |    a.simhash AS s1, c.simhash AS s2
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 4 ORDER BY d1, d2""".stripMargin,
    "ann_topk_agg" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
         |s AS (SELECT q_id, vec_id, ${cosSql("qv", "v")} AS cosine FROM q, c)
         |SELECT q_id, vec_id, cosine, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM s) t
         |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
         |s AS (SELECT q_id, vec_id, ${cosSql("qv", "v")} AS cosine FROM q, c)
         |SELECT q_id, vec_id, cosine, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM s) t
         |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent WHERE e.vec_id >= 8) t WHERE arank = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |probes AS (
         |  SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q, cent) t WHERE prank <= 2),
         |res AS (
         |  SELECT q_id, vec_id, a.bucket, ${cosSql("qv", "a.v")} AS cosine
         |  FROM probes p JOIN assign a ON p.bucket = a.bucket
         |  WHERE q_id <> vec_id)
         |SELECT q_id, vec_id, bucket, cosine, rnk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM res) t
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "ann_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, v, bucket FROM (
         |    SELECT e.vec_id, e.v, c_id AS bucket,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.v", "cv")} DESC, c_id) AS arank
         |    FROM e, cent WHERE e.vec_id >= 8) t WHERE arank = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13),
         |probes AS (
         |  SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, c_id AS bucket,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY ${cosSql("qv", "cv")} DESC, c_id) AS prank
         |    FROM q, cent) t WHERE prank <= 2),
         |ivf AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cosSql("qv", "a.v")} DESC, vec_id) AS rnk
         |    FROM probes p JOIN assign a ON p.bucket = a.bucket
         |    WHERE q_id <> vec_id) t WHERE rnk <= 5),
         |brute AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, c.vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cosSql("qv", "c.v")} DESC, c.vec_id) AS rnk
         |    FROM q, e c WHERE c.vec_id >= 8 AND q_id <> c.vec_id) t WHERE rnk <= 5),
         |hits AS (SELECT i.q_id, COUNT(*) AS n_hits
         |  FROM ivf i JOIN brute b ON i.q_id = b.q_id AND i.vec_id = b.vec_id
         |  GROUP BY 1)
         |SELECT q.q_id, COALESCE(n_hits, 0) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) * 1000 // 5 AS BIGINT) AS recall_milli
         |FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN hits ON q.q_id = hits.q_id
         |ORDER BY q.q_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |planes AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 8),
         |buckets AS (
         |  SELECT e.vec_id, CAST(SUM(CASE WHEN
         |      list_reduce(list_transform(list_zip(e.v, pv), z -> z[1]*z[2]), (x, y) -> x+y) >= 0
         |    THEN (1::BIGINT << p_id) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e, planes GROUP BY e.vec_id),
         |bv AS (SELECT b.vec_id, bucket, v FROM buckets b JOIN e ON b.vec_id = e.vec_id)
         |SELECT x.vec_id AS d1, y.vec_id AS d2, ${cosSql("x.v", "y.v")} AS cosine
         |FROM bv x JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${cosSql("x.v", "y.v")} >= 0.3
         |ORDER BY d1, d2""".stripMargin,
    "sample_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |planes AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 8),
         |buckets AS (
         |  SELECT e.vec_id, CAST(SUM(CASE WHEN
         |      list_reduce(list_transform(list_zip(e.v, pv), z -> z[1]*z[2]), (x, y) -> x+y) >= 0
         |    THEN (1::BIGINT << p_id) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e, planes GROUP BY e.vec_id),
         |bv AS (SELECT b.vec_id, bucket, v FROM buckets b JOIN e ON b.vec_id = e.vec_id),
         |neg AS (
         |  SELECT x.vec_id AS d1, y.vec_id AS d2, ${cosSql("x.v", "y.v")} AS cosine
         |  FROM bv x JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  WHERE ${cosSql("x.v", "y.v")} < 0.3)
         |SELECT d1, d2, cosine, neg_rank FROM (
         |  SELECT d1, d2, cosine, row_number() OVER (PARTITION BY d1
         |    ORDER BY cosine DESC, d2) AS neg_rank
         |  FROM neg) t
         |WHERE neg_rank <= 2 ORDER BY d1, neg_rank""".stripMargin,
    "corpus_health_report" ->
      s"""WITH $mhSigSql,
         |basic AS (SELECT COUNT(*) AS n_docs,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    COUNT(DISTINCT source) AS n_sources,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         |  FROM documents),
         |exact AS (SELECT CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT)
         |    AS n_exact_dup_docs
         |  FROM (SELECT sha256(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1)),
         |near AS (SELECT COUNT(*) AS n_near_dup_pairs FROM (
         |  SELECT DISTINCT a.doc_id, b.doc_id AS d2 FROM bandtab a JOIN bandtab b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)),
         |q AS (SELECT doc_id, length(text) AS len_chars,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of')))
         |      AS stop_hits
         |  FROM documents),
         |qual AS (SELECT COUNT(CASE WHEN NOT
         |      ((stop_hits * 1000) // n_tok >= 40 AND len_chars BETWEEN 50 AND 5000)
         |    THEN 1 END) AS n_quality_fail FROM q)
         |SELECT n_docs, n_langs, n_sources, total_tokens, n_exact_dup_docs,
         |  n_near_dup_pairs, n_quality_fail
         |FROM basic, exact, near, qual""".stripMargin,
    "dedup_semantic_cluster" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
         |data AS (SELECT * FROM e WHERE vec_id >= 8),
         |cos AS (SELECT vec_id, c_id, ${cosSql("v", "cv")} AS c FROM data, cent),
         |asg AS (SELECT vec_id, c_id AS bucket FROM (
         |  SELECT vec_id, c_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, c_id ASC) AS r
         |  FROM cos) WHERE r = 1),
         |bv AS (SELECT a.vec_id, a.bucket, e.v FROM asg a JOIN e USING (vec_id)),
         |dups AS (
         |  SELECT y.vec_id, MIN(x.vec_id) AS kept_by
         |  FROM bv x JOIN bv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  WHERE ${cosSql("x.v", "y.v")} >= 0.3
         |  GROUP BY 1)
         |SELECT a.vec_id, a.bucket, d.kept_by IS NOT NULL AS dropped, d.kept_by
         |FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "dedup_line_segments" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(t[(i*3+1):(i*3+3)], ' ') AS seg
        |  FROM toks, UNNEST(range(0, ((len(t)-1)//3)+1)) AS u(i)),
        |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
        |SELECT s.doc_id, COUNT(*) AS n_segs,
        |  COUNT(CASE WHEN f.df >= 3 THEN 1 END) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN f.df < 3 THEN s.seg END, ' ' ORDER BY s.seg_idx), '')
        |    AS cleaned_text
        |FROM segs s JOIN freq f USING (seg)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
