package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Training-data curation operators — the steps between dedup and the
  * tokenizer in a large-scale pipeline: stratified downsampling to a
  * target language/source mix, packing documents into token-budgeted
  * shards, and vocabulary building. All three are deterministic (mod-
  * sampling rather than RNG, stable orderings) so runs are reproducible
  * and every one hash-checks against a DuckDB oracle.
  */
/** A collected multinomial NB model — metadata-sized by construction
  * (≤ vocabCap·C quantized log-probs + C priors): `classes` ascending
  * (so "first max" argmax ties break to the smallest class name, the
  * q181 rule), `priors(i)` the quantized log-prior of `classes(i)`,
  * `lp(w)(i)` the quantized log-likelihood of token `w` under class i.
  * Row codec: (w, cls, q) with w NULL marking prior rows — the shape
  * `Engine.trainClassifier` persists as the frozen `<name>_model`
  * managed table. */
case class NbModel(classes: Array[String], priors: Array[Long],
    lp: Map[String, Array[Long]])

object NbModel {
  /** Collect the lazy model/prior frames (CurationOps.nbModelFrames)
    * into the broadcastable form. */
  def collect(model: DataFrame, prior: DataFrame): NbModel = {
    val pri = prior.collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    val classes = pri.map(_._1)
    val idx = classes.zipWithIndex.toMap
    val lp = model.collect()
      .groupBy(_.getString(0))
      .map { case (w, rows) =>
        val arr = new Array[Long](classes.length)
        rows.foreach(r => arr(idx(r.getString(1))) = r.getLong(2))
        w -> arr
      }
    NbModel(classes, pri.map(_._2), lp)
  }

  /** Decode the managed-table row shape (w NULL ⇒ prior row). */
  def fromRows(df: DataFrame): NbModel = {
    val rows = df.collect()
    val pri = rows.filter(_.isNullAt(0))
      .map(r => r.getString(1) -> r.getLong(2)).sortBy(_._1)
    val classes = pri.map(_._1)
    val idx = classes.zipWithIndex.toMap
    val lp = rows.filterNot(_.isNullAt(0))
      .groupBy(_.getString(0))
      .map { case (w, rs) =>
        val arr = new Array[Long](classes.length)
        rs.foreach(r => arr(idx(r.getString(1))) = r.getLong(2))
        w -> arr
      }
    NbModel(classes, pri.map(_._2), lp)
  }
}

object CurationOps {

  /** Stratified sampling to a per-language rate via deterministic
    * mod-sampling (`doc_id % 97 < pct`): reproducible across runs and
    * engines — the property RNG sampling lacks — and purely map-side at
    * scale (filter + partial-agg; the rate table broadcasts). */
  val stratifiedSample: NamedQuery = NamedQuery("q96_stratified_sample",
    Some("""WITH rates AS (SELECT * FROM (VALUES
           |  ('en', 10), ('de', 50), ('fr', 50), ('es', 80), ('zh', 100))
           |  r(lang, pct))
           |SELECT d.lang, count(*) AS n_total,
           |CAST(sum(CASE WHEN doc_id % 97 < pct THEN 1 ELSE 0 END)
           |  AS BIGINT) AS n_kept
           |FROM documents d JOIN rates USING (lang)
           |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    (s, d) => {
      val spark = s
      import spark.implicits._
      val rates = Seq(("en", 10), ("de", 50), ("fr", 50), ("es", 80),
        ("zh", 100)).toDF("lang", "pct")
      t(s, d, "documents").join(broadcast(rates), Seq("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("doc_id") % 97 < col("pct"), 1).otherwise(0))
            .as("n_kept"))
        .orderBy("lang")
    })

  /** De-skewed per-language running sum → shard manifest. A window
    * partitioned on `lang` alone serializes each language into ONE task
    * (with ~5 languages, English ≈ half of any real corpus — the exact
    * skew q56 engineered away): instead, two-level prefix sums. Bucket
    * doc_id ranges within language; per-bucket token totals are a tiny
    * frame (corpus/8192 rows) whose cumulative window is cheap; the
    * offsets join back (AQE broadcasts the small side at runtime) and
    * lift the per-(lang, bucket) windows — which run PARALLEL — to
    * global running sums. Numerically identical to the single window,
    * so the oracle SQL stays the plain per-language cumulative sum.
    * Input must carry (doc_id, lang, tok). */
  private[graft] def packShards(docs: org.apache.spark.sql.DataFrame) = {
    // Exchange-reuse shape. Two structural rules keep the corpus to ONE
    // scan+tokenize (it is the priciest stage at every tier):
    //  1. join-key null filters are EXPLICIT on the shared frame — an
    //     inner join injects isnotnull(lang, b) on the probe subtree
    //     only, and ReusedExchangeExec needs byte-identical subtrees;
    //  2. the per-bucket totals come from the WINDOWED frame
    //     (max of the within-bucket cumulative = the bucket total, tok
    //     being nonnegative) instead of a groupBy on the pre-window
    //     frame — a pre-window aggregate branch would column-prune
    //     doc_id out of ITS copy of the exchange and the two exchanges
    //     would no longer match. With both consumers reading the same
    //     4-column exchange, the build side replans as ReusedExchange:
    //     one corpus scan, one corpus shuffle (sf10 A/B: 1.21 → 0.57 s).
    val b = docs.filter(col("lang").isNotNull)
      .withColumn("b", floor(col("doc_id") / 8192L))
      .filter(col("b").isNotNull)
      .repartition(col("lang"), col("b"))
    val wIn = Window.partitionBy("lang", "b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = b.withColumn("cum_in", sum("tok").over(wIn))
    val wBuck = Window.partitionBy("lang").orderBy("b")
    val offsets = cumIn.groupBy("lang", "b").agg(max("cum_in").as("bt"))
      .withColumn("off", sum("bt").over(wBuck) - col("bt"))
      .drop("bt")
    cumIn.join(broadcast(offsets), Seq("lang", "b"))
      .withColumn("cum", col("cum_in") + col("off"))
      .groupBy(col("lang"),
        ((col("cum") - col("tok")) / 2000L).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"))
      .orderBy("lang", "shard")
  }

  /** Token-budget shard packing: within each language, documents are
    * packed in doc_id order into shards of ≤ 2k whitespace tokens by a
    * running sum — the streaming shard assignment a training-data
    * writer uses. The running sum is the de-skewed two-level
    * [[packShards]] (per-stratum packing is also what a curriculum
    * mixer wants). */
  val shardPacking: NamedQuery = NamedQuery("q97_shard_packing",
    Some("""WITH t AS (SELECT doc_id, lang,
           |  len(string_split(text, ' ')) AS tok FROM documents),
           |c AS (SELECT lang, doc_id, tok,
           |  sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
           |    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
           |SELECT lang, CAST((cum - tok) // 2000 AS BIGINT) AS shard,
           |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
           |FROM c GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin),
    (s, d) => packShards(
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TokenCount.tokenCount(col("text")).as("tok"))))

  /** q97 on the ingest-time token manifest
    * ([[BucketedOps.docsTokens]]): the narrow (doc_id, lang, tok, b)
    * table is bucketed on (lang, b) and sorted (lang, b, doc_id) with
    * one file per bucket, so BOTH prefix-sum windows' clustering and
    * the in-bucket ordering come straight from the scan — no corpus
    * shuffle, no corpus sort, and the document text is never re-read
    * (TokenCount ran once, at layout write). Identical semantics and
    * oracle SQL to q97; the production path a training-data writer
    * actually runs, with the per-snapshot manifest write amortized
    * like every other layout stage. */
  val shardPackingBucketed: NamedQuery = NamedQuery(
    "q163_shard_packing_bucketed",
    shardPacking.oracle,
    (s, d) => {
      val m = s.table(BucketedOps.docsTokens(s, d))
      val wIn = Window.partitionBy("lang", "b").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumIn = m.withColumn("cum_in", sum("tok").over(wIn))
      val wBuck = Window.partitionBy("lang").orderBy("b")
      val offsets = cumIn.groupBy("lang", "b").agg(max("cum_in").as("bt"))
        .withColumn("off", sum("bt").over(wBuck) - col("bt"))
        .drop("bt")
      cumIn.join(broadcast(offsets), Seq("lang", "b"))
        .withColumn("cum", col("cum_in") + col("off"))
        .groupBy(col("lang"),
          ((col("cum") - col("tok")) / 2000L).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"))
        .orderBy("lang", "shard")
    })

  /** Vocabulary building: top-10 tokens per language by frequency (the
    * seed statistics a tokenizer trainer consumes). Explode → two-level
    * aggregation (partial combine on (lang, token)) → per-language
    * top-k via WindowGroupLimit — no global sort. */
  val vocabTopK: NamedQuery = NamedQuery("q98_vocab_topk",
    Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
           |  FROM documents),
           |cnt AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY 1, 2),
           |rk AS (SELECT lang, w, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rk
           |  FROM cnt)
           |SELECT lang, w, n, CAST(rk AS BIGINT) AS rk
           |FROM rk WHERE rk <= 10 ORDER BY lang, rk""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
      t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .orderBy("lang", "rk")
    })

  /** The END-TO-END curation pipeline, as one composed deterministic
    * query: near-dup dedup (jaccard ≥ 0.9 components via large-star/
    * small-star — exact duplicates are jaccard-1.0 members, so cluster
    * dedup subsumes exact dedup) → quality gate (≥ 20 tokens) →
    * stratified deterministic mod-sampling to the target language mix →
    * token-budget shard packing. Output is the shard manifest a
    * training run consumes. Every stage is the scalable formulation
    * already proven individually (q95/q48/q96/q97); the pipeline
    * hash-checks end-to-end against DuckDB running the same logical
    * composition (recursive-CTE components + windows). */
  val curationPipeline: NamedQuery = NamedQuery("q123_curation_pipeline",
    Some("""WITH RECURSIVE
           |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 1, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
           |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
           |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2),
           |p09 AS (SELECT id_a, id_b FROM pair
           |        JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
           |        WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9),
           |edges AS (SELECT id_a AS s, id_b AS d FROM p09
           |          UNION SELECT id_b, id_a FROM p09),
           |reach(a, b) AS (
           |  SELECT s, d FROM edges
           |  UNION
           |  SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
           |drop_ids AS (SELECT DISTINCT a AS doc_id FROM reach WHERE b < a),
           |toks AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS tok
           |         FROM documents),
           |kept AS (SELECT t.lang, t.doc_id, t.tok FROM toks t
           |         JOIN (VALUES ('en', 10), ('de', 50), ('fr', 50),
           |               ('es', 80), ('zh', 100)) r(lang, pct)
           |           USING (lang)
           |         WHERE t.doc_id NOT IN (SELECT doc_id FROM drop_ids)
           |           AND t.tok >= 20 AND t.doc_id % 97 < r.pct),
           |c AS (SELECT lang, doc_id, tok,
           |        sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
           |          ROWS UNBOUNDED PRECEDING) AS cum FROM kept)
           |SELECT lang, CAST((cum - tok) // 2000 AS BIGINT) AS shard,
           |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
           |FROM c GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin),
    (s, d) => {
      val spark = s
      import spark.implicits._
      // q41's pair stage with the size band tightened to the ≥ 0.9
      // threshold (DedupOps.jaccardPairs09 — lossless, ~5× fewer pair
      // rows through the exchange at sf0.1, BandProbe r19)
      val pairs = DedupOps.jaccardPairs09(s, d).select("id_a", "id_b")
      // star edges are (rep, member): members with a smaller rep drop
      val drop = DedupOps.connectedComponents(pairs).select("doc_id")
      val rates = Seq(("en", 10), ("de", 50), ("fr", 50), ("es", 80),
        ("zh", 100)).toDF("lang", "pct")
      val kept = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TokenCount.tokenCount(col("text")).as("tok"))
        .join(drop, Seq("doc_id"), "left_anti")
        .filter(col("tok") >= 20)
        .join(broadcast(rates), Seq("lang"))
        .filter(col("doc_id") % 97 < col("pct"))
      packShards(kept.select("doc_id", "lang", "tok"))
      // no conf profile: the pair stage's size attach carries its own
      // footprint-gated broadcast hint (DedupOps.jaccardPairs, r19) —
      // the r18 raised-threshold profile is gone because it leaked
      // onto the pair join itself and broadcast the index stream
    })

  /** Train/eval contamination check — the n-gram-overlap audit every
    * LLM data pipeline runs before training (an eval document whose
    * 5-grams mostly appear in the training split is leaked): explode
    * distinct 5-gram hashes on both splits, distinct the train side,
    * semi-join, per-eval-doc hit ratio. At scale the eval split is
    * metadata-sized next to the corpus, so AQE broadcasts the eval
    * grams and the train side streams — no all-pairs comparison, one
    * shuffle on the gram keys. Grams are EXACT strings (ShingleArray),
    * matching the oracle's string comparison bit-for-bit: a hashed
    * formulation (ShingleHashArray) would be cheaper per key but an
    * engine-defined 64-bit collision could flip the oracle hash — the
    * same reason q130 compares exact passages. */
  val contamination: NamedQuery = NamedQuery("q129_contamination",
    Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
           |  FROM documents),
           |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 3, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
           |         ws[i+3] || ' ' || ws[i+4]))) AS s FROM w),
           |tg AS (SELECT DISTINCT s FROM g
           |       WHERE source NOT IN ('src0', 'src1')),
           |eg AS (SELECT doc_id, s FROM g WHERE source IN ('src0', 'src1')),
           |hit AS (SELECT doc_id, count(*) AS n_hit FROM eg
           |        JOIN tg USING (s) GROUP BY doc_id),
           |tot AS (SELECT doc_id, count(*) AS n_grams FROM eg GROUP BY doc_id)
           |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  coalesce(h.n_hit, 0) * 1.0 / t.n_grams >= 0.5 AS contaminated
           |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id""".stripMargin),
    (s, d) => {
      val evalSrc = Seq("src0", "src1")
      val grams = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(graft.functions.ShingleArray
            .shingleArray(col("text"), 5)).as("g"))
      val trainGrams = grams.filter(!col("source").isInCollection(evalSrc))
        .select("g").distinct()
      val evalGrams = grams.filter(col("source").isInCollection(evalSrc))
        .select("doc_id", "g")
      val hits = evalGrams.join(trainGrams, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      evalGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * 1.0 / col("n_grams") >= 0.5)
            .as("contaminated"))
    })

  /** Temperature-based domain mixing — the sampling-weight computation a
    * multi-source training run uses to up-weight small domains (α = 0.5
    * square-root scaling, the common "temperature" choice): per-source
    * token mass → p_i = tok_i / Σtok → w_i ∝ √p_i normalized → token
    * budget per 1M drawn. sqrt (not pow) on both sides: IEEE 754
    * requires sqrt correctly rounded, so the doubles match bit-for-bit
    * across engines, while pow(x, 0.5) may differ in the last ulp.
    *
    * Scale shape: one combiner-friendly aggregation collapses the corpus
    * to O(sources) rows; the unpartitioned windows after it run on that
    * tiny frame (same already-collapsed-by-aggregation exemption the
    * q97 de-skew law encodes). */
  val domainMixing: NamedQuery = NamedQuery("q135_domain_mixing",
    Some("""WITH s AS (SELECT source, count(*) AS n_docs,
           |  sum(len(string_split(text, ' '))) AS n_tokens
           |  FROM documents GROUP BY source),
           |w AS (SELECT source, n_docs, n_tokens,
           |  sqrt(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM s)) AS raw
           |  FROM s)
           |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  round(raw / sum(raw) OVER (), 6) AS weight,
           |  CAST(floor(raw / sum(raw) OVER () * 1000000) AS BIGINT)
           |    AS tokens_per_m
           |FROM w ORDER BY source""".stripMargin),
    (s, d) => {
      val wAll = Window.partitionBy()
      t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TokenCount.tokenCount(col("text"))).as("n_tokens"))
        .withColumn("raw",
          sqrt(col("n_tokens") * 1.0 / sum("n_tokens").over(wAll)))
        .withColumn("wsum", sum("raw").over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("raw") / col("wsum"), 6).as("weight"),
          floor(col("raw") / col("wsum") * 1000000).cast("long")
            .as("tokens_per_m"))
        .orderBy("source")
    })

  /** Per-source distribution divergence — the data-mixing health metric:
    * KL(source ‖ corpus) over the token distribution restricted to the
    * corpus top-100 tokens (a bounded, deterministic support: full-vocab
    * KL would be dominated by singleton noise and unbounded output).
    * A source drifting from the corpus mix (different language, spam
    * injection, template flood) shows as a KL spike — the monitor a
    * mixing pipeline alarms on.
    *
    * Scale shape: one (source, token) count (combiner-friendly), one
    * token total, top-100 via orderBy+limit (per-partition heaps), the
    * rest is joins against the 100-row broadcast frame. */
  val sourceDivergence: NamedQuery = NamedQuery("q147_source_divergence",
    Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
           |  FROM documents),
           |cnt AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
           |tot AS (SELECT w, sum(c) AS cw FROM cnt GROUP BY 1),
           |top AS (SELECT w, cw FROM tot ORDER BY cw DESC, w LIMIT 100),
           |qd AS (SELECT w, cw * 1.0 / (SELECT sum(cw) FROM top) AS q
           |  FROM top),
           |sc AS (SELECT c.source, c.w, c.c FROM cnt c JOIN top USING (w)),
           |st AS (SELECT source, sum(c) AS ts FROM sc GROUP BY source),
           |kl AS (SELECT sc.source,
           |    sum((sc.c * 1.0 / st.ts) * ln((sc.c * 1.0 / st.ts) / qd.q))
           |      AS kl,
           |    count(*) AS n_top
           |  FROM sc JOIN st USING (source) JOIN qd USING (w)
           |  GROUP BY sc.source)
           |SELECT source, CAST(n_top AS BIGINT) AS n_top,
           |  round(kl, 4) AS kl
           |FROM kl ORDER BY source""".stripMargin),
    (s, d) => {
      val cnt = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val top = cnt.groupBy("w").agg(sum("c").as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(100)
      val qd = top.crossJoin(broadcast(top.agg(sum("cw").as("tcw"))))
        .select(col("w"), (col("cw") * 1.0 / col("tcw")).as("q"))
      val sc = cnt.join(broadcast(qd), Seq("w"))
      val st = sc.groupBy("source").agg(sum("c").as("ts"))
      val p = col("c") * 1.0 / col("ts")
      sc.join(st, Seq("source"))
        .groupBy("source").agg(
          count(lit(1)).as("n_top"),
          round(sum(p * log(p / col("q"))), 4).as("kl"))
        .select(col("source"), col("n_top"), col("kl"))
        .orderBy("source")
    })

  /** Deterministic per-stratum UNIFORM sampling — the fixed-k
    * complement of q96's fixed-RATE mod-sampling: exactly k docs per
    * language, chosen by seeded-hash rank (md5(doc_id || seed)), so
    * the same seed reproduces the same sample on any engine and any
    * cluster size — a reservoir sample without RNG state. The rank
    * filter plans as WindowGroupLimit (PlanQualitySpec law): each
    * task keeps a k-bounded heap per group and the final per-group
    * merge touches k·strata rows — no stratum is ever fully sorted,
    * which is what makes fixed-k sampling safe when one language is
    * half the corpus. */
  val reservoirSample: NamedQuery = NamedQuery("q149_reservoir_sample",
    Some("""WITH h AS (SELECT doc_id, lang,
           |    md5(CAST(doc_id AS VARCHAR) || ':rs7') AS hv
           |  FROM documents),
           |r AS (SELECT doc_id, lang, hv,
           |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
           |      AS rk
           |  FROM h)
           |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
           |FROM r WHERE rk <= 50""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(col("hv"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          md5(concat(col("doc_id").cast("string"), lit(":rs7"))).as("hv"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 50)
        .select("doc_id", "lang", "rk")
    })

  /** Context-window chunking with overlap — the step between curation
    * and embedding/training: each document becomes overlapping
    * 128-token windows on a 96-token stride (stride < window ⇒ 32
    * tokens of overlap, so no boundary-spanning context is lost).
    * Chunk starts are pure row arithmetic (sequence step), so the op
    * is a narrow map + explode: embarrassingly parallel, no shuffle,
    * and the chunk set is deterministic — the same doc always yields
    * the same chunks, which makes downstream chunk-level dedup and
    * embedding caches stable across runs. */
  val contextChunks: NamedQuery = NamedQuery("q150_context_chunks",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
           |    len(string_split(text, ' ')) AS n
           |  FROM documents),
           |c AS (SELECT doc_id, n, unnest(range(0, n, 96)) AS start
           |  FROM w)
           |SELECT doc_id, CAST(start // 96 AS BIGINT) AS chunk_id,
           |  CAST(least(128, n - start) AS BIGINT) AS n_tok
           |FROM c""".stripMargin),
    (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n"))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0), greatest(col("n") - 1, lit(0)),
            lit(96))).as("start"))
        .select(col("doc_id"),
          (col("start") / 96).cast("long").as("chunk_id"),
          least(lit(128), col("n") - col("start")).cast("long").as("n_tok"))
    })

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed n-gram feature distribution
    * is. Features are unigrams + bigrams hashed into 2 × 4096 buckets;
    * the target distribution is estimated from the `lang = 'en'` slice
    * (standing in for the paper's high-quality target sample), the raw
    * distribution from the full corpus; a document's weight is
    * Σ_features log(p_target(f) / p_raw(f)) with add-1 smoothing.
    *
    * Portability/determinism: the feature hash is the first 3 hex chars
    * of md5 (identical in Spark and DuckDB — the q148/q149 portable-
    * hash idiom), and each bucket's log-ratio is quantized to an
    * integer (1e4 units) before the per-doc sum, so the aggregation is
    * exact integer arithmetic — order-independent GIVEN identical
    * bucket values. The bucket values themselves each take one native
    * ln() per engine; the coarse quantum leaves ~100 ulps of margin
    * against libm differences at a rounding boundary (it cannot make
    * cross-engine float agreement a hard guarantee — nothing can).
    *
    * Scale shape: ONE corpus aggregation builds both count tables — the
    * target count is a conditional count riding the same exchange as
    * the raw count — and the grand totals derive from the ≤ 8192-row
    * bucket table, not from re-aggregating the corpus. The log-ratio
    * table BROADCASTS, so per-doc scoring is a map-side join + integer
    * partial-agg — the exploded corpus is read exactly twice (count
    * pass + scoring pass) and never shuffled on a corpus-sized key
    * beyond the doc_id combine. At 100 TB the bucket tables are still
    * 8192 rows: this is the whole point of DSIR's hashed features. */
  val dsirWeights: NamedQuery = NamedQuery("q168_dsir_weights",
    Some("""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
           |          FROM documents),
           |f AS (SELECT doc_id, lang, unnest(list_concat(
           |    list_transform(ws, x -> 'u' || substr(md5(x), 1, 3)),
           |    list_transform(range(1, len(ws)),
           |      i -> 'b' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 3))
           |  )) AS f FROM w),
           |cnt AS (SELECT f, count(*) AS cr,
           |        count(CASE WHEN lang = 'en' THEN 1 END) AS ct
           |        FROM f GROUP BY f),
           |tot AS (SELECT sum(cr) AS br, sum(ct) AS bt FROM cnt),
           |lr AS (SELECT cnt.f,
           |    CAST(round((ln(ct + 1) - ln(bt + 8192.0)
           |      - ln(cr + 1) + ln(br + 8192.0)) * 1e4) AS BIGINT)
           |      AS lr_q
           |  FROM cnt, tot)
           |SELECT doc_id, CAST(sum(lr_q) AS BIGINT) AS dsir_w
           |FROM f JOIN lr USING (f) GROUP BY doc_id""".stripMargin),
    (s, d) => {
      val feats = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          split(col("text"), " ").as("ws"))
        .select(col("doc_id"), col("lang"), explode(concat(
          expr("transform(ws, x -> 'u' || substr(md5(x), 1, 3))"),
          expr("zip_with(slice(ws, 1, size(ws) - 1), " +
            "slice(ws, 2, size(ws) - 1), " +
            "(a, b) -> 'b' || substr(md5(a || ' ' || b), 1, 3))")))
          .as("f"))
      // both count tables off ONE aggregation of the exploded corpus
      // (the en-slice count is a conditional count in the same agg —
      // a second filtered groupBy could not reuse this exchange and
      // re-exploding the corpus per table was the dominant cost)
      val counts = feats.groupBy("f").agg(count(lit(1)).as("cr"),
        count(when(col("lang") === "en", 1)).as("ct"))
      // grand totals fold the ≤ 2×4096-row bucket table, not the corpus
      val tot = counts.agg(sum("cr").as("br"), sum("ct").as("bt"))
      val lr = counts.crossJoin(tot)
        .select(col("f"),
          round((log(col("ct") + 1) - log(col("bt") + lit(8192.0))
            - log(col("cr") + 1) + log(col("br") + lit(8192.0))) * 1e4)
            .cast("long").as("lr_q"))
      feats.join(broadcast(lr), Seq("f"))
        .groupBy("doc_id").agg(sum("lr_q").as("dsir_w"))
    })

  /** Deterministic train/val/test holdout split — 80/10/10 by a salted
    * md5 of the document id, the assignment every training pipeline
    * needs to be STABLE across runs, engines, and corpus re-shuffles
    * (a doc's split never changes when other docs are added or
    * removed, which `row_number() % 10` cannot guarantee). The first
    * four hex chars give 16 bits of uniformity; hex-string comparison
    * is numeric comparison because hex digits are ASCII-ordered.
    * Thresholds: 0xcccd/0x10000 ≈ 0.80001, 0xe666/0x10000 ≈ 0.90000.
    *
    * Scale shape: pure narrow map over the corpus — the split column
    * pipelines inside the scan and typically feeds a partitioned
    * write; zero shuffle. */
  val holdoutSplit: NamedQuery = NamedQuery("q170_holdout_split",
    Some("""WITH h AS (SELECT doc_id,
           |  substr(md5(CAST(doc_id AS VARCHAR) || ':split1'), 1, 4)
           |    AS hx FROM documents)
           |SELECT doc_id,
           |  CASE WHEN hx < 'cccd' THEN 'train'
           |       WHEN hx < 'e666' THEN 'val'
           |       ELSE 'test' END AS split
           |FROM h""".stripMargin),
    (s, d) => {
      val hx = substring(
        md5(concat(col("doc_id").cast("string"), lit(":split1"))), 1, 4)
      t(s, d, "documents").select(col("doc_id"),
        when(hx < "cccd", "train").when(hx < "e666", "val")
          .otherwise("test").as("split"))
    })

  /** Multinomial Naive Bayes language classifier — train AND inference
    * in one declarative plan: the cheap learned classifier every
    * curation pipeline runs next to its heuristic gates (fastText's
    * niche; NB is its closed-form stand-in — pure counting, no
    * gradient loop, exactly reproducible). Complements q49 (rule-based
    * langid): here the model is LEARNED from the corpus's own token
    * statistics, so it adapts to the corpus instead of shipping
    * hand-picked marker words.
    *
    * Model: P(class) from doc counts; P(w|class) Laplace-smoothed over
    * a top-V global-frequency vocabulary (V = 2000, ties broken by
    * token — deterministic membership). Out-of-vocabulary tokens are
    * ignored by both training totals and scoring (the standard capped-
    * vocab NB). Score(doc, c) = log P(c) + Σ_w log P(w|c).
    *
    * Determinism (the q168 DSIR idiom): each log-probability is
    * quantized to an integer (1e4 units) BEFORE the per-doc sum, so
    * the corpus-scale aggregation is exact integer arithmetic — order-
    * independent — and the argmax compares exact integers (ties break
    * on class name in both engines). One native ln() per (vocab ×
    * class) cell per engine, with the quantum leaving ~100 ulps of
    * margin at rounding boundaries.
    *
    * Scale shape: ONE corpus-scale token aggregation builds the
    * (token, class) count table — vocabulary-sized (|V|·C ≤ 10k rows),
    * cached; vocab/totals/model all fold that table, never the corpus.
    * Scoring is the SERVING path ([[nbScore]] / NbScoreExpr): the
    * frozen model compiles into one codegen'd narrow expression — per
    * document one split, an O(1) hash probe per token, C integer adds,
    * first-max argmax — no explode, no join, no shuffle. The corpus is
    * read exactly twice (count pass + scoring pass); nothing
    * corpus-sized sits on the driver beyond the ≤10k-row model. At
    * sf100 this path scores in ~22 s where the retired explode-join
    * formulation took 88 s (the join fanned every token into a
    * (doc, class)-keyed aggregate); that formulation survives as
    * [[nbClassifyJoin]], the cross-validating audit twin EngineSpec
    * checks row-for-row against this path. */
  val nbClassifier: NamedQuery = NamedQuery("q181_nb_classifier",
    Some("""WITH tok AS (SELECT doc_id, lang,
           |               unnest(string_split(text, ' ')) AS w
           |             FROM documents),
           |tcc AS (SELECT w, lang, count(*) AS c FROM tok GROUP BY 1, 2),
           |vocab AS (SELECT w FROM (SELECT w, sum(c) AS tf FROM tcc
           |                         GROUP BY 1)
           |          ORDER BY tf DESC, w LIMIT 2000),
           |inv AS (SELECT tcc.w, tcc.lang, tcc.c
           |        FROM tcc JOIN vocab USING (w)),
           |tot AS (SELECT lang, sum(c) AS t FROM inv GROUP BY 1),
           |cls AS (SELECT lang, count(*) AS n_docs FROM documents
           |        GROUP BY 1),
           |n AS (SELECT sum(n_docs) AS n FROM cls),
           |model AS (SELECT v.w, cl.lang AS cls,
           |    CAST(round(ln((coalesce(i.c, 0) + 1.0) / (tt.t + 2000.0))
           |      * 1e4) AS BIGINT) AS lp_q
           |  FROM vocab v CROSS JOIN cls cl
           |  JOIN tot tt ON tt.lang = cl.lang
           |  LEFT JOIN inv i ON i.w = v.w AND i.lang = cl.lang),
           |ts AS (SELECT tok.doc_id, m.cls, sum(m.lp_q) AS s
           |       FROM tok JOIN model m ON m.w = tok.w GROUP BY 1, 2),
           |prior AS (SELECT cl.lang AS cls,
           |    CAST(round(ln(cl.n_docs * 1.0 / n.n) * 1e4) AS BIGINT)
           |      AS prior_q
           |  FROM cls cl CROSS JOIN n),
           |sc AS (SELECT d.doc_id, p.cls,
           |         p.prior_q + coalesce(ts.s, 0) AS score_q,
           |         p.cls = d.lang AS hit
           |       FROM documents d CROSS JOIN prior p
           |       LEFT JOIN ts ON ts.doc_id = d.doc_id
           |                   AND ts.cls = p.cls)
           |SELECT doc_id, cls AS pred_lang,
           |  CAST(score_q AS BIGINT) AS score_q, hit
           |FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
           |        ORDER BY score_q DESC, cls) AS rn FROM sc)
           |WHERE rn = 1""".stripMargin),
    (s, d) => {
      val docs = t(s, d, "documents")
      val (model, prior, release) = nbModelFrames(docs, "lang", NbVocabCap)
      // the frozen model is ≤10k rows of metadata; collect + release
      // the training cache, then serve with the codegen'd expression
      val m = NbModel.collect(model, prior)
      release()
      nbScore(docs, m)
        .select(col("doc_id"), col("pred_cls").as("pred_lang"),
          col("score_q"), (col("pred_cls") === col("lang")).as("hit"))
    })

  /** The RETIRED q181 scoring formulation, kept as the cross-validating
    * audit twin (EngineSpec's classifier law asserts it agrees with the
    * [[nbScore]] expression path row-for-row): the model pivots WIDE
    * (one row per token, C lp columns), broadcasts as a LocalRelation,
    * and scoring is explode → broadcast-join → (doc)-keyed integer
    * partial agg → struct argmax. Independent of NbScoreExpr end to
    * end — a codegen bug in the expression cannot hide from this plan,
    * and vice versa. 2.4× slower than the expression at sf100 (88 s vs
    * 22 s at the century tier), which is why it no longer ships. */
  private[graft] def nbClassifyJoin(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val (model, prior, release) =
      nbModelFrames(docs, "lang", NbVocabCap)
    // classes + priors are C-row metadata; collecting them here is
    // the q45 point-lookup idiom (and materializes the cached count
    // table the wide model below reuses)
    val pri = prior.collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    val classes = pri.map(_._1).toSeq
    val wide = model.groupBy("w").agg(
      classes.zipWithIndex.map { case (c, i) =>
        sum(when(col("cls") === c, col("lp_q"))).as(s"q$i")
      }.head, classes.zipWithIndex.drop(1).map { case (c, i) =>
        sum(when(col("cls") === c, col("lp_q"))).as(s"q$i")
      }: _*)
    // the wide model is ≤ V rows of longs — materialize it LOCALLY
    // so the training cache releases at build time instead of
    // leaking into the returned lazy plan (scoring below broadcasts
    // a LocalRelation, not a live aggregation subtree)
    val wideLocal = {
      import scala.jdk.CollectionConverters._
      val rows = wide.collect()
      release()
      s.createDataFrame(rows.toSeq.asJava, wide.schema)
    }
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val sums = tok.join(broadcast(wideLocal), Seq("w"))
      .groupBy("doc_id").agg(
        sum(col("q0")).as("s0"),
        classes.indices.drop(1).map(i =>
          sum(col(s"q$i")).as(s"s$i")): _*)
    // exact-integer argmax over the C score columns, class-name
    // tiebreak (array_min on (−score, cls) structs)
    val arr = array(pri.zipWithIndex.map { case ((c, pq), i) =>
      val score = coalesce(col(s"s$i"), lit(0L)) + lit(pq)
      struct((-score).as("neg"), lit(c).as("cls"), score.as("score_q"))
    }: _*)
    docs.select(col("doc_id"), col("lang"))
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), array_min(arr).as("m"))
      .select(col("doc_id"), col("m.cls").as("pred_lang"),
        col("m.score_q").as("score_q"),
        (col("m.cls") === col("lang")).as("hit"))
  }

  /** Classifier evaluation — the per-class confusion report every
    * model-in-the-pipeline deployment reads before trusting verdicts:
    * self-evaluation of the q181 NB classifier against the corpus's
    * own labels, per class (n_true, n_pred, tp, then precision /
    * recall / F1). Exact-integer confusion counts; each metric is one
    * rounded division (undefined → 0.0 explicitly, both engines).
    * Scale shape: q181's plan plus ONE C-row aggregation — nothing
    * new moves. On the synthetic corpus the classifier collapses to
    * the prior (q181 note), so the report shows exactly that:
    * recall 1.0 / precision = prior for `en`, zeros elsewhere —
    * the readout a real pipeline uses to catch a collapsed model. */
  val classifierEval: NamedQuery = NamedQuery("q186_classifier_eval",
    nbClassifier.oracle.map(q181 =>
      s"""WITH verdicts AS ($q181),
         |joined AS (SELECT d.lang AS true_cls, v.pred_lang AS pred_cls
         |           FROM verdicts v JOIN documents d USING (doc_id)),
         |cls AS (SELECT DISTINCT lang AS cls FROM documents),
         |m AS (SELECT cls,
         |    (SELECT count(*) FROM joined WHERE true_cls = cls)
         |      AS n_true,
         |    (SELECT count(*) FROM joined WHERE pred_cls = cls)
         |      AS n_pred,
         |    (SELECT count(*) FROM joined
         |     WHERE true_cls = cls AND pred_cls = cls) AS tp
         |  FROM cls)
         |SELECT cls, CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
         |  round(CASE WHEN n_pred = 0 THEN 0.0
         |             ELSE tp * 1.0 / n_pred END, 4) AS precision,
         |  round(CASE WHEN n_true = 0 THEN 0.0
         |             ELSE tp * 1.0 / n_true END, 4) AS recall,
         |  round(CASE WHEN tp = 0 THEN 0.0
         |             ELSE 2.0 * tp / (n_pred + n_true) END, 4) AS f1
         |FROM m""".stripMargin),
    (s, d) => {
      val docs = t(s, d, "documents")
      val verdicts = nbClassifier.fn(s, d)
        .select(col("doc_id"), col("pred_lang").as("pred_cls"))
        .join(docs.select(col("doc_id"), col("lang").as("true_cls")),
          Seq("doc_id"))
      // one pass over verdicts, C-row result: each verdict row fans to
      // the 1-2 classes it involves (broadcast the C-row class table;
      // every class has ≥ 1 true doc so the inner join loses nothing)
      val cls = docs.select(col("lang").as("cls")).distinct()
      val m = verdicts.join(broadcast(cls),
          col("true_cls") === col("cls") || col("pred_cls") === col("cls"))
        .groupBy("cls").agg(
          count(when(col("true_cls") === col("cls"), 1)).as("n_true"),
          count(when(col("pred_cls") === col("cls"), 1)).as("n_pred"),
          count(when(col("true_cls") === col("cls") &&
            col("pred_cls") === col("cls"), 1)).as("tp"))
      m.select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("tp") * lit(1.0) / col("n_pred")), 4)
          .as("precision"),
        round(when(col("n_true") === 0, 0.0)
          .otherwise(col("tp") * lit(1.0) / col("n_true")), 4)
          .as("recall"),
        round(when(col("tp") === 0, 0.0)
          .otherwise(lit(2.0) * col("tp") / (col("n_pred") + col("n_true"))),
          4).as("f1"))
    })

  /** Discrimination proof for the NB stack on a CLASS-CORRELATED
    * fixture: the synthetic corpus's vocabulary is language-independent
    * (q181's learned posterior collapses to the prior — q186 shows
    * exactly that), so the scoring path beyond the prior was
    * arithmetic-exercised but never signal-exercised. This query plants
    * the signal DETERMINISTICALLY from the tables themselves: each
    * document's text gains 16 copies of a class-marker token (enough
    * mass to clear the natural-token noise floor; measured accuracy
    * 0.68/0.74/0.75 at sf0.001/0.01/0.1 against the 0.75 Bayes
    * optimum) — the
    * marker names the document's own class, except every 4th doc_id
    * carries the NEXT class's marker (alphabetical rotation), so the
    * signal is strong but noisy (Bayes-optimal accuracy 75%, never a
    * lookup). Train on doc_id%5<4, score the held-out %5==4 through
    * the same frozen-model path the streams serve ([[NbModel.collect]]
    * + [[nbScore]]), and report the q186 confusion over the HOLDOUT —
    * per-class recall must clear the prior by a wide margin
    * (PipelineSpec pins learned-beats-majority as a law). The DuckDB
    * oracle retrains and rescores the whole pipeline from scratch.
    *
    * Scale shape: q181's (one corpus token×class aggregation, model
    * collected at ≤ V·C metadata rows, scoring a stateless narrow
    * expression) plus the fixture projection — nothing new moves. */
  val nbDiscrimination: NamedQuery = NamedQuery("q190_nb_discrim",
    Some("""WITH langs AS (SELECT lang, row_number() OVER (ORDER BY lang)
           |    AS rn FROM (SELECT DISTINCT lang FROM documents)),
           |nl AS (SELECT count(*) AS c FROM langs),
           |rot AS (SELECT a.lang, b.lang AS nxt FROM langs a
           |        JOIN langs b ON b.rn = a.rn % (SELECT c FROM nl) + 1),
           |fix AS (SELECT d.doc_id, d.lang,
           |          d.text || repeat(' mk_' ||
           |            CASE WHEN d.doc_id % 4 = 0 THEN r.nxt
           |                 ELSE d.lang END, 16) AS text
           |        FROM documents d JOIN rot r USING (lang)),
           |tr AS (SELECT * FROM fix WHERE doc_id % 5 < 4),
           |te AS (SELECT * FROM fix WHERE doc_id % 5 = 4),
           |tok AS (SELECT doc_id, lang,
           |          unnest(string_split(text, ' ')) AS w FROM tr),
           |tcc AS (SELECT w, lang, count(*) AS c FROM tok GROUP BY 1, 2),
           |vocab AS (SELECT w FROM (SELECT w, sum(c) AS tf FROM tcc
           |                         GROUP BY 1)
           |          ORDER BY tf DESC, w LIMIT 2000),
           |inv AS (SELECT tcc.w, tcc.lang, tcc.c
           |        FROM tcc JOIN vocab USING (w)),
           |tot AS (SELECT lang, sum(c) AS t FROM inv GROUP BY 1),
           |cls AS (SELECT lang, count(*) AS n_docs FROM tr GROUP BY 1),
           |n AS (SELECT sum(n_docs) AS n FROM cls),
           |model AS (SELECT v.w, cl.lang AS cls,
           |    CAST(round(ln((coalesce(i.c, 0) + 1.0) / (tt.t + 2000.0))
           |      * 1e4) AS BIGINT) AS lp_q
           |  FROM vocab v CROSS JOIN cls cl
           |  JOIN tot tt ON tt.lang = cl.lang
           |  LEFT JOIN inv i ON i.w = v.w AND i.lang = cl.lang),
           |tokq AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |         FROM te),
           |ts AS (SELECT tokq.doc_id, m.cls, sum(m.lp_q) AS s
           |       FROM tokq JOIN model m ON m.w = tokq.w GROUP BY 1, 2),
           |prior AS (SELECT cl.lang AS cls,
           |    CAST(round(ln(cl.n_docs * 1.0 / n.n) * 1e4) AS BIGINT)
           |      AS prior_q
           |  FROM cls cl CROSS JOIN n),
           |sc AS (SELECT d.doc_id, d.lang AS true_cls, p.cls,
           |         p.prior_q + coalesce(ts.s, 0) AS score_q
           |       FROM te d CROSS JOIN prior p
           |       LEFT JOIN ts ON ts.doc_id = d.doc_id
           |                   AND ts.cls = p.cls),
           |verd AS (SELECT true_cls, cls AS pred_cls
           |  FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
           |          ORDER BY score_q DESC, cls) AS rn FROM sc)
           |  WHERE rn = 1),
           |allc AS (SELECT DISTINCT lang AS cls FROM documents),
           |m2 AS (SELECT cls,
           |    (SELECT count(*) FROM verd WHERE true_cls = cls)
           |      AS n_true,
           |    (SELECT count(*) FROM verd WHERE pred_cls = cls)
           |      AS n_pred,
           |    (SELECT count(*) FROM verd
           |     WHERE true_cls = cls AND pred_cls = cls) AS tp
           |  FROM allc)
           |SELECT cls, CAST(n_true AS BIGINT) AS n_true,
           |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
           |  round(CASE WHEN n_pred = 0 THEN 0.0
           |             ELSE tp * 1.0 / n_pred END, 4) AS precision,
           |  round(CASE WHEN n_true = 0 THEN 0.0
           |             ELSE tp * 1.0 / n_true END, 4) AS recall,
           |  round(CASE WHEN tp = 0 THEN 0.0
           |             ELSE 2.0 * tp / (n_pred + n_true) END, 4) AS f1
           |FROM m2""".stripMargin),
    (s, d) => {
      val docs = t(s, d, "documents")
      // deterministic class-marker rotation (alphabetical next-class)
      val langs = docs.select("lang").distinct()
        .withColumn("rn", row_number().over(Window.orderBy("lang")))
      val nl = langs.count()
      val rot = langs.select(col("lang"), col("rn"))
        .join(langs.select(col("lang").as("nxt"), col("rn").as("rn2")),
          col("rn2") === (col("rn") % nl) + 1)
        .select("lang", "nxt")
      val fix = docs.join(broadcast(rot), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          concat(col("text"), repeat(concat(lit(" mk_"),
            when(col("doc_id") % 4 === 0, col("nxt"))
              .otherwise(col("lang"))), 16)).as("text"))
      val train = fix.filter(col("doc_id") % 5 < 4)
      val test = fix.filter(col("doc_id") % 5 === 4)
      val (model, prior, release) = nbModelFrames(train, "lang",
        NbVocabCap)
      val m = NbModel.collect(model, prior)
      release()
      val verdicts = nbScore(test, m)
        .select(col("lang").as("true_cls"), col("pred_cls"))
      val cls = docs.select(col("lang").as("cls")).distinct()
      val conf = verdicts.join(broadcast(cls),
          col("true_cls") === col("cls") || col("pred_cls") === col("cls"))
        .groupBy("cls").agg(
          count(when(col("true_cls") === col("cls"), 1)).as("n_true"),
          count(when(col("pred_cls") === col("cls"), 1)).as("n_pred"),
          count(when(col("true_cls") === col("cls") &&
            col("pred_cls") === col("cls"), 1)).as("tp"))
      conf.select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
        round(when(col("n_pred") === 0, 0.0)
          .otherwise(col("tp") * lit(1.0) / col("n_pred")), 4)
          .as("precision"),
        round(when(col("n_true") === 0, 0.0)
          .otherwise(col("tp") * lit(1.0) / col("n_true")), 4)
          .as("recall"),
        round(when(col("tp") === 0, 0.0)
          .otherwise(lit(2.0) * col("tp") / (col("n_pred") + col("n_true"))),
          4).as("f1"))
    })

  /** Default NB vocabulary cap — top-V by global frequency, token-name
    * tiebreak: deterministic membership at any corpus size, ≤ V·C
    * model rows (broadcastable metadata at 100 TB). */
  val NbVocabCap = 2000

  /** The NB model frames q181, `Engine.trainClassifier`, and the
    * streaming scorer all share: Laplace-smoothed per-(token, class)
    * log-probabilities and per-class log-priors, both integer-quantized
    * (1e4 units — the q168 DSIR idiom) so every downstream sum and
    * argmax is exact integer arithmetic. `model` is (w, cls, lp_q),
    * `prior` is (cls, prior_q); both are metadata-sized and lazy.
    * ONE corpus-scale aggregation (token×class counts) feeds
    * everything; the cached frame is vocabulary-sized. The third
    * element RELEASES that cache — callers must invoke it once the
    * model/prior frames have materialized (collect / persist), or
    * every training run leaks a cached RDD into executor storage. */
  private[graft] def nbModelFrames(docs: DataFrame, labelCol: String,
      v: Int): (DataFrame, DataFrame, () => Unit) = {
    val tok = docs.select(col(labelCol).as("cls"),
      explode(split(col("text"), " ")).as("w"))
    val tcc = tok.groupBy("w", "cls").agg(count(lit(1)).as("c")).cache()
    val vocab = tcc.groupBy("w").agg(sum("c").as("tf"))
      .orderBy(col("tf").desc, col("w").asc).limit(v).select("w")
    val inv = tcc.join(broadcast(vocab), Seq("w"))
    val tot = inv.groupBy("cls").agg(sum("c").as("t"))
    val cls = docs.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val n = cls.agg(sum("n_docs").as("n"))
    val model = vocab.crossJoin(cls.select(col("cls")))
      .join(tot, Seq("cls"))
      .join(inv, Seq("w", "cls"), "left")
      .select(col("w"), col("cls"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1.0))
          / (col("t") + lit(v.toDouble))) * 1e4).cast("long").as("lp_q"))
    val prior = cls.crossJoin(n)
      .select(col("cls"),
        round(log(col("n_docs") * lit(1.0) / col("n")) * 1e4)
          .cast("long").as("prior_q"))
    (model, prior, () => { tcc.unpersist(); () })
  }

  /** Apply a collected (frozen) NB model to `docs` as ONE stateless
    * narrow expression — no join, no shuffle, no state: per row the
    * token array folds class-score sums starting from the priors
    * (OOV tokens add zero), then an exact-integer argmax picks the
    * first maximum over the ascending class array (same tiebreak as
    * q181's min(struct)). Identical on batch and STREAMING frames —
    * the train-offline / serve-online path; at 100 TB the model is a
    * ≤10k-entry map literal inside codegen. */
  def nbScore(docs: DataFrame, m: NbModel,
      textCol: String = "text"): DataFrame = {
    // one codegen'd pass per document: split, O(1) hash lookup per
    // token, C integer adds, first-max argmax — see
    // [[graft.functions.NbScoreExpr]] for why the HOF formulation
    // (literal-map element_at per token) was 4-10x slower at sf10
    val verdict = graft.functions.NbScoreExpr
      .nbScoreStruct(col(textCol), m)
    docs.withColumn("__nb_verdict", verdict)
      .withColumn("score_q", col("__nb_verdict").getField("score_q"))
      .withColumn("pred_cls", col("__nb_verdict").getField("pred_cls"))
      .drop("__nb_verdict")
  }

  def defs: Seq[NamedQuery] =
    Seq(stratifiedSample, shardPacking, shardPackingBucketed, vocabTopK,
      curationPipeline, contamination, domainMixing, sourceDivergence,
      reservoirSample, contextChunks, dsirWeights, holdoutSplit,
      nbClassifier, classifierEval, nbDiscrimination)
}
