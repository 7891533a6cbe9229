package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables.t

/** The retrieval layer of [[TextOps]] — BM25 scoring machinery, the
  * sparse+dense hybrid (RRF fusion), its recall-floored audit, and the
  * ANN-served variant (q165 / q184 / q188 / q189). Split from
  * TextOps.scala along its retrieval section seam (zero behavior
  * change); the self-type keeps every `TextOps.x` call-site working. */
private[graft] trait TextRetrieval extends Serializable {
  self: TextOps.type =>

  /** BM25 retrieval scoring (Robertson et al., the Okapi formulation
    * with the non-negative idf variant ln(1 + (N−df+0.5)/(df+0.5)),
    * k1 = 1.2, b = 0.75): the ranking function a curation pipeline
    * uses to score documents against a probe query — seed selection
    * for quality classifiers, benchmark-contamination triage, and
    * retrieval-based mixing all start here. Top-10 documents for a
    * fixed 3-term query.
    *
    * Determinism across engines: per-term scores are summed in FIXED
    * term order as three explicit addends (a GROUP-BY-doc sum over a
    * term-exploded frame would re-introduce summation-order float
    * drift); df/N are exact counts and avgdl is an exact-integer sum
    * divided once, so every double on both sides is bit-identical.
    *
    * Scale shape: one corpus pass computes (dl, tf_t) per doc as
    * narrow in-row expressions (no explode, no shuffle); the 1-row
    * corpus-stats frame broadcasts; top-10 runs as TakeOrdered — the
    * only movement in the whole plan is the k-row result. */
  /** BM25 scoring machinery shared by q165 (lexical top-k) and q184
    * (hybrid RRF fusion): the fixed 3-term probe, the DuckDB CTE
    * prefix producing per-doc tf/dl (`d`) + corpus stats (`st`), the
    * score formula in both SQL and Column form, and the Spark frame
    * of (doc_id, bm25 rounded 4dp). */
  private[graft] object Bm25 {
    val terms = Seq("join", "vector", "stream")
    val k1 = "1.2"; val b = "0.75"
    val tfSql: String = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split(text, ' '), w -> w = '$t')) AS tf$i"
    }.mkString(",\n           |  ")
    val dfSql: String = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val scoreSql: String = terms.indices.map(i =>
      s"""ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ($k1 + 1)
         |    / (tf$i + $k1 * (1 - $b + $b * dl / avgdl))""".stripMargin)
      .mkString("\n  + ")
    val cteSql: String =
      s"""d AS (SELECT doc_id,
         |  len(string_split(text, ' ')) AS dl,
         |  $tfSql
         |  FROM documents),
         |st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfSql FROM d)""".stripMargin

    /** (doc_id, bm25) for every document — bm25 rounded to 4dp so rank
      * orderings agree across engines (the q45 idiom). */
    def scored(s: org.apache.spark.sql.SparkSession, d: String)
        : org.apache.spark.sql.DataFrame = {
      val dk1 = 1.2; val db = 0.75
      val withTf = t(s, d, "documents").select(
        col("doc_id") +:
          graft.functions.TokenCount.tokenCount(col("text")).as("dl") +:
          terms.zipWithIndex.map { case (term, i) =>
            size(filter(split(col("text"), " "), w => w === lit(term)))
              .as(s"tf$i")
          }: _*)
      val statCols = count(lit(1)).as("n") +: avg("dl").as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val stats = withTf.agg(statCols.head, statCols.tail: _*)
      val score = terms.indices.map { i =>
        log(lit(1) + (col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5)) *
          col(s"tf$i") * (dk1 + 1) /
          (col(s"tf$i") +
            (lit(1 - db) + lit(db) * col("dl") / col("avgdl")) * dk1)
      }.reduce(_ + _)
      withTf.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 4).as("bm25"))
    }
  }

  val bm25: NamedQuery =
    NamedQuery("q165_bm25_topk",
      Some(s"""WITH ${Bm25.cteSql}
              |SELECT doc_id, round(${Bm25.scoreSql}, 4) AS bm25
              |FROM d, st
              |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),
      (s, d) => Bm25.scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10))

  /** The dense top-20 for the hybrid probe (doc 1's embedding, self
    * excluded), SERVED from the engine's persisted IVF-PQ index —
    * train-once/probe-many: [[graft.EngineIndexes.annSearch]] probes
    * `nprobe` cells, ADC-scores code bytes, and rescores its shortlist
    * on raw floats at the same 4dp-round/id-tiebreak idiom as the
    * brute pass, so every RETURNED similarity is exact; what is
    * approximate is membership (which 20 come back). nprobe scales as
    * nlist/3 (floor 8): on clustered production embeddings that is a
    * small constant scan fraction at high recall; on this synthetic
    * near-uniform corpus recall ≈ the probed fraction plus the planted
    * near-dup structure — measured 0.80@sf0.01 / ≥0.65@sf0.1
    * (tools/HybProbe), which the q188 audit floors at 0.55. k is
    * requested +1 to absorb the self-match before the exclusion
    * filter. */
  /** Train-once/probe-many for the serving indexes (the
    * [[graft.operators.DedupOps.sharedShingles]] convention): the
    * latest session engine remembers which corpus dir each hyb_*
    * artifact was built over ([[graft.Engine.servedIndexDir]]) and
    * rebuilds only when the dir changes or the engine is fresh — a
    * repeated q188/q189/q196 pays the probe, not a re-train, and two
    * dirs in one session can never serve a stale index (the new dir's
    * build overwrites the tables and the memo). */
  private val engineLock = new Object
  private def servingEngine(
      s: org.apache.spark.sql.SparkSession): graft.Engine =
    // atomic check-then-act (ADVICE r18): two warmServing threads on a
    // fresh session would otherwise BOTH construct an Engine, the
    // loser's index build landing in a discarded instance and being
    // silently rebuilt sequentially afterwards
    engineLock.synchronized {
      graft.Engine.forSession(s).getOrElse(graft.Engine.serving(s))
    }

  /** Bench shared stage: build (or re-point) both hyb_* serving
    * artifacts for `d` so the timed q189/q196 rows measure the probe —
    * the per-query cost a serving deployment pays — while the
    * once-per-snapshot index builds are timed once as this stage (the
    * warmShingles/warmLayout convention). The two builds consume
    * different inputs (documents vs embeddings) and write disjoint
    * artifacts, so they run CONCURRENTLY (guide §2.6) — the text
    * side's shuffle tails back-fill with the ANN side's kmeans jobs.
    * sf0.1 A/B (StagesProbe2): 5.23 s sequential → 2.39 s threaded. */
  private[graft] def warmServing(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    servingEngine(s) // resolve ONCE ahead of the fan-out (ADVICE r18)
    NamedQuery.inParallel(
      () => { ensureLexIndex(s, d); () },
      () => { ensureAnnIndex(s, d); () })
    lexServed(s, d, 1).collect()
    val qv = t(s, d, "embeddings").filter(col("vec_id") === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    denseServed(s, d, qv).collect()
    ()
  }

  /** Build-or-repoint the lexical serving artifact for `d` (the
    * train-once/probe-many memo shared by q196/q189/q198 and the
    * bench's serving stage). */
  private def ensureLexIndex(s: org.apache.spark.sql.SparkSession,
      d: String): graft.Engine = {
    val eng = servingEngine(s)
    if (!eng.servedIndexDir.get("hyb_text").contains(d)) {
      eng.registerTable("hyb_documents", s"$d/documents.parquet")
      val path = s"${sys.props("java.io.tmpdir")}/graft_textidx_" +
        s"${ProcessHandle.current.pid}"
      eng.buildTextIndex("hyb_text", "hyb_documents", path)
      eng.servedIndexDir("hyb_text") = d
    }
    eng
  }

  /** [[ensureLexIndex]] for the dense IVF-PQ serving artifact. */
  private def ensureAnnIndex(s: org.apache.spark.sql.SparkSession,
      d: String): graft.Engine = {
    val eng = servingEngine(s)
    if (!eng.servedIndexDir.get("hyb_ann").contains(d)) {
      eng.registerTable("hyb_embeddings", s"$d/embeddings.parquet")
      eng.buildAnnIndex("hyb_ann", "hyb_embeddings", pq = true)
      eng.servedIndexDir("hyb_ann") = d
    }
    eng
  }

  private[graft] def denseServed(s: org.apache.spark.sql.SparkSession,
      d: String, qv: Array[Float]): DataFrame = {
    val eng = ensureAnnIndex(s, d)
    val nlist = eng.annCentroids("hyb_ann").length
    val nprobe = math.max(8, (nlist + 2) / 3)
    eng.annSearch("hyb_ann", qv, k = 21, nprobe = nprobe)
      .filter(col("vec_id") =!= 1)
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(20)
  }

  /** Hybrid retrieval: lexical BM25 and dense cosine top-20 lists
    * fused by Reciprocal Rank Fusion (Cormack et al. 2009,
    * score = Σ 1/(60 + rank)) — the standard first-stage retrieval
    * composition (sparse catches exact terms, dense catches
    * paraphrase; RRF needs no score calibration between the two).
    * The probe: q165's fixed 3-term query on the lexical side, doc 1's
    * embedding on the dense side (documents and embeddings share the
    * id space).
    *
    * Determinism: both lists rank on 4dp-ROUNDED scores with id
    * tiebreaks (the q45/q165 idiom), and each fused score is ≤ 2
    * fixed-order IEEE divisions — bit-identical across engines. This
    * headline form keeps the EXACT dense pass (brute cosine), so the
    * DuckDB oracle recomputes it hash-for-hash; the production serving
    * path — the same fusion with the dense list PROBED from the
    * engine's persisted IVF-PQ index — is q189, recall-floored by the
    * q188 audit (the q42/q119 exact-headline/approx-twin convention).
    *
    * Scale shape: each list is ONE corpus pass ending in TakeOrdered
    * (k-row movement, no global sort); ranks are assigned over the
    * ≤ 20-row results; the fusion joins two ≤ 20-row frames. Nothing
    * corpus-sized moves or sits on the driver. */
  val hybridRetrieval: NamedQuery = NamedQuery("q184_hybrid_retrieval",
    Some(s"""WITH ${Bm25.cteSql},
            |lexall AS (SELECT doc_id, round(${Bm25.scoreSql}, 4) AS bm25
            |           FROM d, st),
            |lex AS (SELECT doc_id, CAST(row_number() OVER
            |          (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
            |        FROM lexall ORDER BY bm25 DESC, doc_id LIMIT 20),
            |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe,
            |        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
            |             x -> x * x))) AS qn
            |      FROM embeddings WHERE vec_id = 1),
            |vecall AS (SELECT vec_id AS doc_id,
            |        round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
            |          / (sqrt(list_sum(list_transform(
            |               CAST(embedding AS DOUBLE[]), x -> x * x))) * qn),
            |          4) AS cs
            |      FROM embeddings, q WHERE vec_id <> 1),
            |vec AS (SELECT doc_id, CAST(row_number() OVER
            |          (ORDER BY cs DESC, doc_id) AS BIGINT) AS r_vec
            |        FROM vecall ORDER BY cs DESC, doc_id LIMIT 20),
            |f AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
            |        coalesce(r_lex, 0) AS rl, coalesce(r_vec, 0) AS rv,
            |        round((CASE WHEN r_lex IS NULL THEN 0
            |                    ELSE 1.0 / (60 + r_lex) END)
            |            + (CASE WHEN r_vec IS NULL THEN 0
            |                    ELSE 1.0 / (60 + r_vec) END), 6) AS rrf
            |      FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
            |SELECT doc_id, rl AS r_lex, rv AS r_vec, rrf
            |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.CosineSimilarity.cosineSim
      val lex = Bm25.scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .withColumn("r_lex", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long"))
        .select("doc_id", "r_lex")
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0).toArray
      val cs = round(cosineSim(col("embedding"), typedlit(qv)), 4)
      val vec = e.filter(col("vec_id") =!= 1)
        .select(col("vec_id").as("doc_id"), cs.as("cs"))
        .orderBy(col("cs").desc, col("doc_id")).limit(20)
        .withColumn("r_vec", row_number()
          .over(Window.orderBy(col("cs").desc, col("doc_id")))
          .cast("long"))
        .select("doc_id", "r_vec")
      val rrf = round(
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("rl"),
          coalesce(col("r_vec"), lit(0L)).as("rv"),
          rrf.as("rrf"))
        .select(col("doc_id"), col("rl").as("r_lex"),
          col("rv").as("r_vec"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    })

  /** Hash-checked audit of the ANN-served dense list (the q42/q119
    * convention: the approximate op's laws are oracle-proven even
    * though its row set is engine-defined). Three laws against the
    * brute-force exact pass: the probe returns a FULL 20 (`rows_ok`);
    * recall@20 clears the floor measured for this corpus's structure
    * (`recall_ok`, ≥ 0.55 — see [[denseServed]]; clustered production
    * embeddings sit far above it); and every served similarity equals
    * the true cosine of that pair (`rescore_ok` — the shortlist
    * rescoring reads raw floats, so scores are exact even when
    * membership is approximate). A probing regression fails HERE with
    * a readable verdict. */
  val hybridDenseAudit: NamedQuery = NamedQuery("q188_hybrid_dense_audit",
    Some("""SELECT CAST(20 AS BIGINT) AS n_served, true AS rows_ok,
           |true AS recall_ok, true AS rescore_ok""".stripMargin),
    (s, d) => {
      import graft.functions.CosineSimilarity.cosineSim
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0).toArray
      val cs = round(cosineSim(col("embedding"), typedlit(qv)), 4)
      val exactAll = e.filter(col("vec_id") =!= 1)
        .select(col("vec_id"), cs.as("true_cos"))
      val exact20 = exactAll
        .orderBy(col("true_cos").desc, col("vec_id")).limit(20)
        .select(col("vec_id").as("e_id"))
      val served = denseServed(s, d, qv)
        .select(col("vec_id").as("s_id"), col("cos_sim").as("s_cos"))
      // every served row carries its true cosine for the rescore law;
      // the exact-20 join measures recall
      served
        .join(exactAll.withColumnRenamed("vec_id", "a_id"),
          col("s_id") === col("a_id"), "left")
        .join(exact20, col("s_id") === col("e_id"), "left")
        .agg(count(col("s_id")).as("n_served"),
          (count(col("s_id")) === 20).as("rows_ok"),
          (count(col("e_id")) >= lit(11)).as("recall_ok"),
          (count_if(col("s_cos") =!= col("true_cos")) === 0)
            .as("rescore_ok"))
    })

  /** The lexical top-k SERVED from the engine's persisted inverted
    * index ([[graft.EngineIndexes.buildTextIndex]] /
    * [[graft.EngineIndexes.bm25Search]]) — train-once/probe-many like
    * [[denseServed]], but EXACT: at most one posting exists per
    * (term, doc), so the probe reproduces q165's fixed-term-order
    * float arithmetic bit-for-bit and the served top-k equals the
    * full-pass top-k (q196 pins that with q165's own oracle). Per-query
    * cost is O(Σ df(term)) postings-row-group reads, not a corpus
    * pass. */
  private[graft] def lexServed(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): DataFrame =
    ensureLexIndex(s, d).bm25Search("hyb_text", Bm25.terms, k = k)

  /** The index-served lexical list, hash-checked against q165's OWN
    * oracle (the full-pass BM25 SQL): unlike the dense ANN twin, the
    * inverted-index probe is exact, so membership, scores, and order
    * all hash-match — a q188-style audit with equality instead of a
    * recall floor. */
  val bm25Served: NamedQuery = NamedQuery("q196_bm25_served",
    bm25.oracle,
    (s, d) => lexServed(s, d, 10))

  /** The full index-MAINTENANCE lifecycle, hash-proven end-to-end:
    * build the inverted index over HALF the corpus (even doc_ids),
    * incrementally refresh the other half in (the O(batch) append),
    * OPTIMIZE the appended tail back into term-sorted pruning order,
    * then probe — and the probe must equal the full-pass BM25 over the
    * WHOLE corpus (q165's own oracle). One query pins that refresh
    * covered exactly the appended half, optimize preserved every
    * posting, and the maintained artifact serves bit-identically. */
  val bm25Maintained: NamedQuery = NamedQuery("q198_index_maintenance",
    bm25.oracle,
    (s, d) => {
      // scratch: a query-local catalog that must not re-bind the
      // session's serving engine (q196/q189 would lose their memo)
      val eng = graft.Engine.scratch(s)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      eng.registerTable("mnt_docs", docs.filter(col("doc_id") % 2 === 0))
      eng.registerTable("mnt_docs_all", docs)
      val path = s"${sys.props("java.io.tmpdir")}/graft_mnt_tix_" +
        s"${ProcessHandle.current.pid}"
      eng.buildTextIndex("mnt_tix", "mnt_docs", path)
      val appended = eng.refreshTextIndex("mnt_tix", "mnt_docs_all", path)
      val odd = docs.filter(col("doc_id") % 2 =!= 0).count()
      require(appended == odd,
        s"refresh appended $appended docs, corpus grew by $odd")
      eng.sql("OPTIMIZE TEXT INDEX mnt_tix")
      eng.bm25Search("mnt_tix", Bm25.terms, k = 10)
    })

  /** The hybrid fusion SERVED the way a production retrieval stack
    * runs it: q184's RRF composition with the dense list probed from
    * the engine's persisted IVF-PQ index ([[denseServed]]) instead of
    * a brute corpus pass — per-query dense work is
    * O(nprobe·N/nlist + shortlist) against 13-byte PQ rows, not O(N)
    * against raw floats. Engine-defined rows (membership is
    * approximate, scores exact), so no DuckDB oracle; q188 is the
    * hash-checked audit twin pinning its laws. */
  val hybridServed: NamedQuery = NamedQuery("q189_hybrid_served", None,
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // both lists index-served: lexical from the persisted inverted
      // index (exact — q196 pins it), dense from the IVF-PQ index
      // (recall-floored — q188 pins it)
      val lex = lexServed(s, d, 20)
        .withColumn("r_lex", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long"))
        .select("doc_id", "r_lex")
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0).toArray
      val vec = denseServed(s, d, qv)
        .withColumn("r_vec", row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("vec_id")))
          .cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      val rrf = round(
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0L)).as("r_lex"),
          coalesce(col("r_vec"), lit(0L)).as("r_vec"),
          rrf.as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    })
}
