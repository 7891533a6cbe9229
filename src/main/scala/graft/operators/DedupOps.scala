package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Deduplication operators for large-scale training-data pipelines —
  * beyond the reference's surface (it has none; SURVEY.md §2.2 last row),
  * designed shuffle-light for the 100 TB case.
  *
  * Shared vocabulary: a document's shingle set is its distinct 3-word
  * n-grams. Exact dedup is a hash groupBy; n-gram Jaccard joins on
  * shingles (with a document-frequency cap against hot-shingle skew);
  * MinHash/LSH replaces the quadratic candidate join with banded signature
  * buckets; SimHash reduces each document to 64 bits and compares by
  * Hamming distance within prefix buckets.
  */
object DedupOps {

  /** doc_id → exploded distinct shingle *hashes* (xxhash64 — an 8-byte
    * join key shuffles and compares far cheaper than the shingle string;
    * collision odds over any realistic shingle population are ~2⁻⁶⁴·n²,
    * immaterial next to MinHash's own error). Hot shingles dropped: a
    * shingle appearing in > maxDf docs (stopword-like) would explode the
    * pair join quadratically at scale while carrying no dedup signal. */
  private[graft] def shingleTokens(docs: DataFrame,
      maxDf: Int = 1000): DataFrame = {
    // hashes computed inside the shingling expression: the explode emits
    // 8-byte longs, never shingle strings (ShingleHashArray ≡
    // xxhash64(shingle) — same seed, interchangeable values)
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashArray
        .shingleHashArray(col("text"), 3)).as("s"))
    val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")
    // hot-shingle set is vocabulary-scale, but on a web corpus
    // "vocabulary-scale" can exceed the broadcast limit — gate the hint
    // on the corpus scan size (an upper bound on the distinct-shingle
    // footprint); over it, AQE picks the strategy at runtime
    sh.join(NamedQuery.maybeBroadcast(hot, docs, 100L << 20),
      Seq("s"), "left_anti").select("doc_id", "s")
  }

  /** The shingle stage is corpus-level, not query-level: a production
    * pipeline computes it once per corpus snapshot and runs every dedup
    * pass (Jaccard, MinHash, …) against it. Memoized per (session, dir)
    * so q41 and q42 in one session share ONE materialization; `.cache()`
    * re-registers on every access (idempotent) so a cleared cache
    * re-materializes instead of silently recomputing per consumer. */
  private val shingleMemo =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), DataFrame]
  private[graft] def sharedShingles(s: SparkSession, d: String): DataFrame = {
    val df = shingleMemo.getOrElseUpdate((s, d),
      shingleTokens(t(s, d, "documents")))
    df.cache()
    df
  }

  /** Materialize the shared shingle stage (Bench times this once as its
    * own entry — the per-pass dedup numbers then measure the passes). */
  private[graft] def warmShingles(s: SparkSession, d: String): Unit =
    sharedShingles(s, d).write.mode("overwrite").format("noop").save()

  /** Durable shingle index — the session memo above is the right
    * MARGINAL cost but the wrong durability: a daily-crawl pipeline
    * reads YESTERDAY'S index from storage, it does not hold it in a
    * warm cache across days. The write is memoized per (session, dir)
    * — one materialization per corpus snapshot — but every consumer
    * plans a fresh COLD scan over the parquet files, so the
    * incremental path (q145) pays the true re-read cost of the
    * storage format, never a cache hit. At 100 TB the index lives
    * bucketed-by-shingle next to the corpus; here the local temp dir
    * stands in for the object store. Reference analog: the registry
    * round-trip of `duckherder_register_remote_table`
    * (src/client/duckherder_pragmas.cpp:16-60). */
  private val indexDirMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def persistShingleIndex(s: SparkSession, d: String): String =
    indexDirMemo.getOrElseUpdate((s, d), {
      // The path carries the JVM pid: two concurrent JVMs benching the
      // same tier must never share an index dir, or one's
      // mode=overwrite deletes parquet files under the other's active
      // scan. Within a JVM the publish is write-to-temp-then-rename,
      // so a partially-written index is never visible at the final
      // path. The artifact is a STATIC SNAPSHOT of `documents` as of
      // the build — dataset-dir tables are immutable inputs here; for
      // mutated MANAGED corpora, Engine.refreshShingleIndex is the
      // invalidation path.
      val base = s"${sys.props("java.io.tmpdir")}/graft_shingle_index_" +
        s"${ProcessHandle.current.pid}_" +
        d.replaceAll("[^a-zA-Z0-9]", "_")
      val tmp = base + "_tmp"
      sharedShingles(s, d).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(base))
      base
    })
  private[graft] def coldShingleIndex(s: SparkSession, d: String): DataFrame =
    s.read.parquet(persistShingleIndex(s, d))

  /** Exact dedup: hash groupBy on the dedup key, keep min doc_id.
    * One shuffle on the key; at 100 TB this is the cheapest possible
    * formulation (map-side partial aggregation halves the shuffle). */
  val exact: NamedQuery = NamedQuery("q40_dedup_exact",
    Some("""SELECT lang, n_chars, min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY lang, n_chars""".stripMargin),
    (s, d) => t(s, d, "documents").groupBy("lang", "n_chars")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")))

  /** Shared exact pair stage (q41/q95/q123/q142/q153): inverted-index
    * join on the shingle index, then J = |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.5.
    *
    * `bandJ` is the LOSSLESS size-band candidate prune (prefix-filtering
    * by set size, the standard bound for similarity self-joins): since
    * |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), J ≤ min/max — a pair
    * whose sizes differ by more than 1/bandJ can NEVER reach bandJ, so
    * it is dropped INSIDE the inverted-index join, before the pair
    * exchange and aggregation (guide §3: shrink the join input before
    * the shuffle). Callers pass the downstream threshold minus a small
    * slack that absorbs double-rounding at the boundary (0.4999 for the
    * ≥ 0.5 output here; 0.899 for consumers that keep only rounded
    * jaccard ≥ 0.9, since round3(J) ≥ 0.9 ⟹ J ≥ 0.8995): the prune is
    * provably result-identical. Measured selectivity at sf0.1
    * (BandProbe; doc shingle sizes spread 8–98, median 52):
    * co-occurrence rows 1.27M → 0.97M at 0.4999 and → 0.25M at 0.899;
    * aggregated pairs 1.13M → 0.85M / 0.21M; true positives (256 at
    * ≥0.5, 249 at ≥0.9) all survive by construction.
    *
    * Two regimes on one footprint gate (16 MB of documents ≈ a ~300 MiB
    * index), both returning identical rows:
    *
    *  - SMALL: the r18 plan, hints made explicit — one side of the pair
    *    join broadcasts whole (no s-exchange, no sort) and the 16 B/doc
    *    size table broadcast-joins onto the aggregated pairs. The band
    *    buys nothing here (the pair exchange is already tiny) and its
    *    size attach costs a visible extra job at the driver tier
    *    (q123 sf0.1: 2.59 → 2.98 s when banded — reverted), so the
    *    small regime stays band-free.
    *  - LARGE (the 100 TB direction): banded shuffle join. Sizes ride
    *    the index stream (ONE explicit broadcast attach of the size
    *    table — ~78 MB at sf100 — with a shuffle fallback past 2 GB of
    *    documents) and stay in the grouping keys (na/nb are functions
    *    of id_a/id_b, so the groups are unchanged), which also deletes
    *    the two post-aggregation size joins over the ~91%-distinct
    *    pair stream. Controlled sf10 A/B (RunQ, same tier): q41
    *    13.3 → 8.3 s, q123 19.6 → 11.2 s.
    *
    * The hints are explicit because the r18 conf profile (session
    * autoBroadcastJoinThreshold=256m) leaked onto every join in the
    * plan: combined with the size attach it built three ~130–190 MiB
    * broadcasts of the INDEX stream at sf1 (measured 2.2 → 8.2 s, the
    * r19 first-cut regression). Explicit footprint-gated hints pin
    * exactly the intended build sides. */
  private[graft] def jaccardPairs(s: SparkSession, d: String,
      bandJ: Double): DataFrame = {
    val sh = sharedShingles(s, d)
    // repartition the raw 16-byte index rows on doc_id BEFORE the
    // per-doc size count: the index comes out of the hot-shingle
    // anti-join partitioned by SHINGLE, so each doc's ~50 rows
    // scatter across every partition and the partial aggregate
    // builds a doc-cardinality hash map per partition that reduces
    // nothing (the q42-sf100 signature law; Q41Probe measured the
    // un-exchanged form at 35.3 s for this stage at sf100)
    val sz = sh.repartition(col("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    if (NamedQuery.footprintOf(d, "documents") <= (16L << 20))
      pairsSmall(sh, sz)
    else {
      // size table is 16 B × n_docs (~78 MB at sf100): broadcast
      // through the decade tiers, shuffle fallback past 2 GB of docs
      val szHinted =
        NamedQuery.maybeBroadcastByFootprint(sz, d, "documents", 2L << 30)
      pairsBanded(sh, szHinted, bandJ)
    }
  }

  private def jacCol = col("inter") * lit(1.0) /
    (col("na") + col("nb") - col("inter"))

  /** SMALL regime: broadcast pair join, post-agg size joins. */
  private[graft] def pairsSmall(sh: DataFrame, sz: DataFrame): DataFrame = {
    val a = sh.toDF("id_a", "s")
    val b = sh.toDF("id_b", "s")
    val pairs = a.join(broadcast(b), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .repartition(col("id_a"), col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sz.toDF("id_a", "na")), "id_a")
      .join(broadcast(sz.toDF("id_b", "nb")), "id_b")
      .filter(jacCol >= 0.5)
      .select(col("id_a"), col("id_b"), round(jacCol, 3).as("jaccard"))
  }

  /** LARGE regime: banded shuffle join, sizes riding the index stream
    * and the grouping keys (na/nb are functions of id_a/id_b — groups
    * unchanged). */
  private[graft] def pairsBanded(sh: DataFrame, sz: DataFrame,
      bandJ: Double): DataFrame = {
    val shN = sh.join(sz, Seq("doc_id"))
    val a = shN.toDF("id_a", "s", "na")
    val b = shN.toDF("id_b", "s", "nb")
    val band = col("na") >= lit(bandJ) * col("nb") &&
      col("nb") >= lit(bandJ) * col("na")
    // exchange the raw pair rows and aggregate clustered — the
    // co-occurrence stream is ~91% DISTINCT pairs (431 M rows →
    // 395 M groups at sf100, avg 1.09 — Q41Probe), so the fused
    // partial aggregate reduces nothing; q42's verification pairs
    // are candidate-restricted with ~50× multiplicity — THERE the
    // partial aggregate earns its keep. (sf10: 7.6 → 6.3 s,
    // Q41Probe2.)
    val pairs = a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b") && band)
      .select("id_a", "na", "id_b", "nb")
      .repartition(col("id_a"), col("id_b"))
      .groupBy("id_a", "na", "id_b", "nb").agg(count(lit(1)).as("inter"))
    pairs
      .filter(jacCol >= 0.5)
      .select(col("id_a"), col("id_b"), round(jacCol, 3).as("jaccard"))
  }

  /** The ≥ 0.9 pair graph consumed by q95/q123/q142 — q41's exact pair
    * semantics (unrounded ≥ 0.5, round to 3dp, keep rounded ≥ 0.9) with
    * the size band tightened to the 0.9 threshold: 0.899 < 0.8995 =
    * min J that rounds to 0.9, so no qualifying pair is pruned, and the
    * pair exchange shrinks ~5× (BandProbe). */
  private[graft] def jaccardPairs09(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d, 0.899).filter(col("jaccard") >= 0.9)

  /** N-gram Jaccard near-dup pairs ≥ 0.5, exact: inverted-index join on
    * shingles, then |A∩B| / (|A|+|B|−|A∩B|). The maxDf cap bounds the
    * per-shingle fan-out, so the shuffle is O(Σ df²) over rare shingles
    * only — the scalable exact formulation. */
  val ngramJaccard: NamedQuery = NamedQuery("q41_dedup_ngram_jaccard",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 1, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
           |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
           |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       round(inter * 1.0 / (sa.n + sb.n - inter), 3) AS jaccard
           |FROM pair
           |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
           |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5""".stripMargin),
    // no conf profile: the r18 raised broadcast threshold existed for
    // the post-agg size joins, which the banded stage subsumes with an
    // explicit footprint-gated hint — see [[jaccardPairs]]
    (s, d) => jaccardPairs(s, d, bandJ = 0.4999))

  /** Candidate generation for q42, STAGED to parquet: signatures →
    * banding → banded bucket equi-join → distinct pairs, written as a
    * compact two-long-per-pair artifact and read back cold. Staging
    * (instead of the r8 `.cache()`) serves two needs at once: the
    * candidate set still feeds multiple verification consumers without
    * re-running the signature pipeline (the cache's original job —
    * measured 65× superlinear without either), AND the write-read
    * barrier ends the generation lineage, so the generation shuffles
    * (signature groupBy, band join, distinct) become reclaimable while
    * verification runs. The one-action formulation held every one of
    * those on disk SIMULTANEOUSLY with the verification join's own
    * spill — measured >60 GB transient at the sf100 tier, ENOSPC on a
    * 63 GB-free box. Peak disk is now max(generation, verification),
    * not their sum — the same pay-once staging discipline as the
    * persisted shingle index. */
  private[graft] def stageCandidates(s: SparkSession, d: String,
      sh: DataFrame): String = {
    val numHashes = 32
    val bands = 8
    val rowsPerBand = numHashes / bands
    // Repartition on doc_id BEFORE the signature aggregation. The
    // shared index comes out of the hot-shingle anti-join partitioned
    // by SHINGLE, so each document's rows are scattered across every
    // partition and the partial aggregate emits one 32-long buffer per
    // (doc × partition) — event-log accounting at sf100: 50.6 GB of
    // shuffle for what is logically 5M signatures (the ENOSPC root
    // cause). Exchanging the raw 16-byte index rows first costs ~1/10
    // of that, and the doc-clustered input then collapses partial
    // output to ONE buffer per document, with the final aggregate
    // riding the same partitioning exchange-free.
    val sig = sh.repartition(col("doc_id")).groupBy("doc_id").agg(
      graft.functions.MinHashSignature.minhashSignature(col("s"), numHashes)
        .as("sig"))
    val bandCols = (0 until bands).map { b =>
      val bandSlice = slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
      struct(lit(b).as("band"), xxhash64(bandSlice).as("bh"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = buckets.toDF("id_a", "band", "bh")
      .join(buckets.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val base = s"${sys.props("java.io.tmpdir")}/graft_q42_cand_" +
      s"${ProcessHandle.current.pid}_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    cand.write.mode("overwrite").parquet(base)
    // shuffle files are reclaimed only after their stage objects are
    // GC'd (ContextCleaner); the generation lineage is dead the moment
    // this method returns, so collect it NOW — verification's spill
    // needs the disk back before the 2-minute periodic GC would fire.
    // Gated on corpus footprint: the forced full GC costs ~0.1 s per
    // invocation (GcCostProbe) and disk pressure only exists when the
    // generation shuffles are within an order of magnitude of free
    // disk — the sf100 ENOSPC this defends against had a ~580 MB
    // documents table; below 256 MB the transient spill is MBs and the
    // 2-minute periodic GC handles reclamation fine.
    if (NamedQuery.footprintOf(d, "documents") >= (256L << 20)) System.gc()
    base
  }

  /** MinHash + LSH: 32 signature slots (min over xxhash64(seed, shingle)),
    * 8 bands × 4 rows. Docs colliding in any band become candidates
    * ([[stageCandidates]] — generation is staged to parquet so its
    * shuffles don't share peak disk with verification); candidates are
    * verified with exact Jaccard. The candidate join is on
    * (band, band_hash) buckets — no quadratic pair enumeration, which is
    * the whole point at 100 TB. No oracle: signature values depend on
    * Spark's xxhash64 (rows-only check); q119 is the oracle-checked
    * audit twin. */
  val minhashLsh: NamedQuery = NamedQuery("q42_dedup_minhash_lsh", None,
    (s, d) => {
      val sh = sharedShingles(s, d)
      val cand = s.read.parquet(stageCandidates(s, d, sh))
      // verify candidates with exact Jaccard — restrict the inverted
      // index to candidate docs BEFORE the pair join, so verification
      // cost scales with |candidates|, not with the full corpus
      // on a duplicate-heavy corpus the candidate set is NOT metadata-
      // sized — no broadcast hint; the semi-join shuffles on doc_id and
      // AQE still broadcasts it locally when it happens to be small
      val candDocs = cand.select(col("id_a").as("doc_id"))
        .union(cand.select(col("id_b").as("doc_id"))).distinct()
      val shCand = sh.join(candDocs, Seq("doc_id"), "left_semi")
        .select("doc_id", "s")
      // doc-clustered exchange before the per-doc count — q41's law
      // (the shingle-partitioned index defeats the partial aggregate)
      val sz = sh.repartition(col("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      // AGGREGATE the co-occurrence stream BEFORE intersecting with the
      // candidate set: the r10 formulation semi-joined the raw pair
      // stream first, which shuffles every (id_a, id_b, shingle)
      // occurrence uncombined — a dup pair contributes ~|shared
      // shingles| rows — and ENOSPC'd at the sf100 tier (>40 GB
      // transient spill). groupBy first rides q41's proven shape
      // (map-side partial combine compresses occurrences to one row
      // per pair); the candidate intersection is then an equi-join of
      // two compact pair tables on the SAME (id_a, id_b) partitioning
      // — no extra exchange. Inner join, not left_semi: Catalyst's
      // PushDownLeftSemiAntiJoin would push a semi-join on grouping
      // keys back below the aggregate, resurrecting the raw-stream
      // shuffle (cand is distinct, so the inner join cannot fan out).
      val inter = shCand.toDF("id_a", "s").join(shCand.toDF("id_b", "s"), Seq("s"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(cand, Seq("id_a", "id_b"))
      val jac = col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))
      inter
        .join(sz.toDF("id_a", "na"), "id_a")
        .join(sz.toDF("id_b", "nb"), "id_b")
        .filter(jac >= 0.5)
        .select(col("id_a"), col("id_b"), round(jac, 3).as("jaccard"))
    })

  /** SimHash: 64-bit signature — bit j is the sign of Σ_tokens (±1 by bit
    * j of xxhash64(token)). Near-dups = pairs at Hamming distance ≤ 8,
    * found by matching on any of 4 16-bit bands (a distance-≤3 guarantee,
    * probabilistic above), then filtered by bit_count(xor). */
  val simhash: NamedQuery = NamedQuery("q43_dedup_simhash", None,
    (s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
        .withColumn("h", xxhash64(col("w")))
      val bitSums = (0 until 64).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
          .as(s"b$j"))
      val withBits = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val sim = (0 until 64).map(j =>
        when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
        .reduce(_.bitwiseOR(_))
      // cache: the banded table self-joins — uncached, both join sides
      // recompute the 64-bit-sum aggregation
      val sigs = withBits.select(col("doc_id"), sim.as("simhash")).cache()
      val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xffff).as("bh"))): _*))
          .as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.bh").as("bh"))
      val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
      banded.toDF("id_a", "sh_a", "band", "bh")
        .join(banded.toDF("id_b", "sh_b", "band", "bh"), Seq("band", "bh"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), hamming.as("hamming"))
        .distinct()
        .filter(col("hamming") <= 8)
    })

  /** Distributed connected components by alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): each round is one groupBy over the
    * edge list —
    *   large-star: for every node u, link each strictly-larger neighbor
    *     to u's minimum neighborhood label (min of u and its neighbors);
    *   small-star: link u and its ≤-u neighbors to that minimum.
    * Both keep the edge count O(E) and converge to star graphs centered
    * on each component's minimum id in O(log n) rounds on ANY graph
    * shape — a 10⁶-long path needs ~20 rounds, where plain min-label
    * propagation needs 10⁶. State is the edge list itself; no driver
    * materialization (the convergence check is a count aggregate). */
  private[graft] def connectedComponents(edges0: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val sess = edges0.sparkSession
    import sess.implicits._
    // canonical undirected edge set, self-loops dropped
    var edges = edges0.toDF("a", "b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .as[(Long, Long)].cache()
    var nEdges = edges.count()
    // The loop's shuffles carry the (shrinking) edge list — a few
    // hundred 16-byte rows at sf0.1 — but ran at the session's
    // tier-sized shuffle width under AQE's per-stage barriers: pure
    // scheduling floor, ~6 jobs/round (CcProbe sf0.1: 1.3-3.3 s as
    // shipped, 0.7-0.9 s at AQE off + width 4). Size the reducer count
    // to the MEASURED edge count (guide §2.2 — partitions from data,
    // not a constant: ~1M 16-byte edges per task, floored at 4, never
    // above the session width) and drop AQE inside the loop: its only
    // lever here is coalescing tiny shuffles — which the measured
    // width already does without the barriers — and skew-split applies
    // to joins, not the loop's groupByKey aggregations.
    val loopWidth = math.max(4L, math.min(
      sess.conf.get("spark.sql.shuffle.partitions", "32").toLong,
      nEdges / 1000000L + 1L)).toString
    NamedQuery.withConf(sess, Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopWidth)) {
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // large-star: group neighborhoods of u over BOTH directions; link
      // strictly-larger neighbors to m = min(u, neighborhood). NOT
      // distinct'd or cached: small-star consumes it exactly once in
      // one pass, its min is insensitive to duplicate neighbors, and
      // the duplicates its output can carry die in small's distinct —
      // the old per-round distinct+cache here was a pure extra shuffle
      // (measured ~35% of the loop at sf1 on q95/q134)
      val large = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupByKey(_._1)
        .flatMapGroups { (u, it) =>
          val nbrs = it.map(_._2).toArray
          var m = u
          var i = 0
          while (i < nbrs.length) { if (nbrs(i) < m) m = nbrs(i); i += 1 }
          nbrs.iterator.filter(_ > u).map(v => (math.min(v, m), math.max(v, m)))
        }.filter(e => e._1 != e._2)
      // small-star: group only the ≤-direction; link all neighbors ≤ u
      // (and u itself) to the minimum
      val small = large.map { case (a, b) => (math.max(a, b), math.min(a, b)) }
        .groupByKey(_._1)
        .flatMapGroups { (u, it) =>
          val nbrs = it.map(_._2).toArray
          var m = u
          var i = 0
          while (i < nbrs.length) { if (nbrs(i) < m) m = nbrs(i); i += 1 }
          val out = nbrs.iterator.filter(_ != m).map(v => (m, v)) ++
            (if (m != u) Iterator((m, u)) else Iterator.empty)
          out
        }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct().cache()
      // convergence = edge-set stability (both stars fixpointed: every
      // edge already links a node to its component minimum). Counts
      // gate first: both sets are distinct, so |S| ≠ |E| proves change
      // with the count that materializes S's cache anyway; only a
      // count-equal round pays ONE except (E \ S = ∅ ∧ |E| = |S| ⇒
      // E = S) — the old two-except check ran both EVERY round
      val nSmall = small.count()
      done = nSmall == nEdges && edges.except(small).isEmpty
      edges.unpersist()
      edges = small
      nEdges = nSmall
      round += 1
    }
    } // withConf(loop profile)
    edges.toDF("rep", "doc_id")
  }

  /** Near-dup clustering: connected components over the jaccard ≥ 0.9
    * pair graph, each doc labeled with its component's min doc_id (the
    * canonical representative a pipeline keeps), via the large-star/
    * small-star rounds above. Oracle: DuckDB computes the same
    * components via a recursive transitive-closure CTE. */
  val nearDupClusters: NamedQuery = NamedQuery("q95_dedup_clusters",
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
           |rep AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
           |        FROM reach GROUP BY a)
           |SELECT doc_id, cluster_rep,
           |  count(*) OVER (PARTITION BY cluster_rep) AS n_members
           |FROM rep ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = jaccardPairs09(s, d).select("id_a", "id_b")
      val stars = connectedComponents(pairs)
      // star edges label members; each rep labels itself
      val labels = stars.select(col("doc_id"), col("rep"))
        .union(stars.select(col("rep")).distinct()
          .select(col("rep").as("doc_id"), col("rep")))
      labels
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("rep")))
        .select(col("doc_id"), col("rep").as("cluster_rep"),
          col("n_members"))
        .orderBy("doc_id")
    })

  /** Oracle-checked audit of the MinHash-LSH pass against the exact
    * Jaccard formulation: precision must be perfect (every LSH pair is
    * an exact pair with the identical jaccard value — the verification
    * step guarantees it, and a regression flips the hash), and recall
    * must stay ≥ 0.9 (8 bands × 4 rows gives P(miss) ≈ 2·10⁻⁴ per pair
    * at j = 0.9 — near-1 recall is the measured property, the 0.9 floor
    * absorbs band-boundary noise). The exact-pair COUNT hash-matches the
    * oracle outright. */
  val minhashAudit: NamedQuery = NamedQuery("q119_minhash_lsh_audit",
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_exact,
            |true AS precision_ok, true AS recall_ok
            |FROM (${ngramJaccard.oracle.get}) t""".stripMargin),
    (s, d) => {
      val ex = ngramJaccard.fn(s, d).toDF("id_a", "id_b", "j_exact")
      val lsh = minhashLsh.fn(s, d).toDF("id_a", "id_b", "j_lsh")
      ex.join(lsh, Seq("id_a", "id_b"), "full_outer").agg(
        count(col("j_exact")).as("n_exact"),
        (count_if(col("j_exact").isNull).eqNullSafe(0L) &&
          count_if(col("j_exact").isNotNull && col("j_lsh").isNotNull &&
            col("j_exact") =!= col("j_lsh")).eqNullSafe(0L))
          .as("precision_ok"),
        (count_if(col("j_exact").isNotNull && col("j_lsh").isNotNull) * 1.0
          >= count(col("j_exact")) * 0.9).as("recall_ok"))
    })

  /** Oracle-checked audit of the SimHash detector against exact
    * ground truth: among pairs with exact jaccard ≥ 0.9, the banded
    * hamming-≤8 search must recover at least half (measured ~0.68 — a
    * 64-bit unweighted simhash on ~150-token docs is a weak detector by
    * construction; the floor pins it from collapsing), and every
    * emitted pair must be ordered with hamming in [0, 8]. */
  val simhashAudit: NamedQuery = NamedQuery("q120_simhash_audit",
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_exact09,
            |true AS recall_ok, true AS sane_ok
            |FROM (${ngramJaccard.oracle.get}) t WHERE jaccard >= 0.9""".stripMargin),
    (s, d) => {
      val ex09 = ngramJaccard.fn(s, d).filter(col("jaccard") >= 0.9)
        .select("id_a", "id_b")
      val sim = simhash.fn(s, d)
      val j = ex09.join(sim.select("id_a", "id_b").withColumn("hit", lit(1)),
        Seq("id_a", "id_b"), "left_outer")
      val sane = sim.agg(
        count_if(col("hamming") < 0 || col("hamming") > 8 ||
          col("id_a") >= col("id_b")).as("bad"))
      j.agg(count(lit(1)).as("n_exact09"),
          (count(col("hit")) * 1.0 >= count(lit(1)) * 0.5).as("recall_ok"))
        .crossJoin(sane)
        .select(col("n_exact09"), col("recall_ok"),
          (col("bad") === 0).as("sane_ok"))
    })

  /** Passage-level dedup (Lee et al. 2022): rather than dropping whole
    * documents, remove the repeated SPANS — any 10-word non-overlapping
    * chunk already seen earlier in the corpus (global first occurrence
    * ordered by (doc_id, position) survives; all later occurrences,
    * including within-document repeats, are cut) — and reassemble each
    * document from its surviving chunks.
    *
    * Scale shape: chunking stays inside the scan stage (codegen'd
    * [[graft.functions.WordChunks]], no shuffle); the first-occurrence
    * rule is a combiner-friendly `min(struct(doc_id, ci))` aggregation
    * on the chunk text (a bounded ≤ ~10-word string key — hashing it to
    * 8 bytes would merge colliding chunks and make the result
    * engine-defined, so the exact key is kept) joined back to the
    * occurrences; reassembly is ONE shuffle back on doc_id. A
    * row_number window PARTITION BY chunk would serialize a corpus-hot
    * chunk (boilerplate repeated millions of times, empty-doc chunks)
    * into one task — the aggregation partial-combines map-side and the
    * equi-join is one AQE can skew-split, neither of which a window
    * allows. No self-join, no quadratic pair set — at 100 TB this is
    * three shuffles of the corpus, the same cost class as exact dedup. */
  val passageDedup: NamedQuery = NamedQuery("q130_passage_dedup",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           |  FROM documents),
           |c AS (SELECT doc_id, i AS ci,
           |    list_aggregate(ws[(i-1)*10+1:i*10], 'string_agg', ' ') AS chunk
           |  FROM w, unnest(range(1,
           |    CAST(ceil(len(ws) / 10.0) AS BIGINT) + 1)) t(i)),
           |r AS (SELECT doc_id, ci, chunk, row_number()
           |    OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn FROM c)
           |SELECT doc_id,
           |  coalesce(string_agg(chunk, ' ' ORDER BY ci)
           |    FILTER (WHERE rn = 1), '') AS text_clean,
           |  CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed
           |FROM r GROUP BY doc_id""".stripMargin),
    (s, d) => {
      val chunks = t(s, d, "documents").select(col("doc_id"),
        posexplode(graft.functions.WordChunks.wordChunks(col("text"), 10))
          .as(Seq("pos", "chunk")))
        .select(col("doc_id"), (col("pos") + 1).as("ci"), col("chunk"))
      val firsts = chunks.groupBy("chunk")
        .agg(min(struct(col("doc_id"), col("ci"))).as("first_occ"))
      chunks.join(firsts, Seq("chunk"))
        .withColumn("is_first",
          struct(col("doc_id"), col("ci")) === col("first_occ"))
        .groupBy("doc_id").agg(
          coalesce(array_join(transform(
            array_sort(collect_list(when(col("is_first"),
              struct(col("ci"), col("chunk"))))),
            kv => kv.getField("chunk")), " "), lit("")).as("text_clean"),
          count(lit(1)).as("n_chunks"),
          count_if(!col("is_first")).as("n_removed"))
    })

  /** Keep-BEST near-dup dedup — the production variant of q95: instead
    * of keeping the min-id representative, each cluster keeps its
    * highest-quality member (longest document, ties to the smaller id)
    * — the "keep the best copy" rule a curation pipeline actually
    * applies. Selection is an algebraic argmax — `max(struct(quality,
    * -doc_id))` with map-side partial combine — never a per-cluster
    * sort or row_number window, so a pathological giant cluster (every
    * boilerplate page in a crawl) costs one combiner cell, not one
    * task. */
  val keepBest: NamedQuery = NamedQuery("q142_dedup_keep_best",
    Some(s"""WITH best AS (SELECT t.cluster_rep, t.doc_id, d.n_chars,
            |  row_number() OVER (PARTITION BY t.cluster_rep
            |    ORDER BY d.n_chars DESC, t.doc_id) AS rk,
            |  count(*) OVER (PARTITION BY t.cluster_rep) AS n_members
            |FROM (${nearDupClusters.oracle.get}) t
            |JOIN documents d USING (doc_id))
            |SELECT cluster_rep, doc_id AS kept_doc,
            |  CAST(n_chars AS BIGINT) AS kept_chars,
            |  CAST(n_members AS BIGINT) AS n_members
            |FROM best WHERE rk = 1 ORDER BY cluster_rep""".stripMargin),
    (s, d) => {
      val m = nearDupClusters.fn(s, d).select("doc_id", "cluster_rep")
      val docs = t(s, d, "documents").select("doc_id", "n_chars")
      m.join(docs, Seq("doc_id"))
        .groupBy("cluster_rep").agg(
          max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_rep"), (-col("m.negid")).as("kept_doc"),
          col("m.n_chars").as("kept_chars"), col("n_members"))
        .orderBy("cluster_rep")
    })

  /** Incremental snapshot dedup — the production cadence: a NEW batch
    * (here source 'src0') arrives and must be deduped against the
    * already-KEPT corpus without reprocessing the corpus. The shingle
    * index is the shared per-snapshot artifact ([[sharedShingles]]);
    * candidate generation restricts the inverted-index join to
    * (new × kept) — the quadratic new×new and kept×kept blocks are
    * never formed, so the marginal cost of a batch is O(batch) joins
    * against the index, which is how a 100 TB pipeline absorbs a daily
    * crawl. The index is consumed through [[coldShingleIndex]] — a COLD
    * parquet scan of the persisted per-snapshot artifact, the daily-
    * cadence durability shape (not a session cache hit). Output: each
    * new doc dropped (exact Jaccard ≥ 0.9 against any kept doc) with
    * its best match — the argmax is an algebraic max(struct), no
    * per-doc window. */
  val incrementalDedup: NamedQuery = NamedQuery("q145_incremental_dedup",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 1, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
           |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
           |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |newd AS (SELECT doc_id FROM documents WHERE source = 'src0'),
           |pair AS (SELECT a.doc_id AS nid, b.doc_id AS kid, count(*) AS inter
           |  FROM sh a JOIN sh b ON a.s = b.s
           |  WHERE a.doc_id IN (SELECT doc_id FROM newd)
           |    AND b.doc_id NOT IN (SELECT doc_id FROM newd)
           |  GROUP BY 1, 2),
           |j AS (SELECT nid, kid,
           |    inter * 1.0 / (sa.n + sb.n - inter) AS jac
           |  FROM pair JOIN sz sa ON sa.doc_id = nid
           |  JOIN sz sb ON sb.doc_id = kid
           |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9),
           |r AS (SELECT nid, kid, jac,
           |    row_number() OVER (PARTITION BY nid ORDER BY jac DESC, kid)
           |      AS rk,
           |    count(*) OVER (PARTITION BY nid) AS n_matches FROM j)
           |SELECT nid AS doc_id, kid AS dup_of, round(jac, 3) AS jaccard,
           |  CAST(n_matches AS BIGINT) AS n_matches
           |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val srcOf = t(s, d, "documents").select(col("doc_id"), col("source"))
      val idx = coldShingleIndex(s, d)
      val sz = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // sizes ride the index stream so the 0.899 size band (lossless
      // for the ≥ 0.9 unrounded filter below — J ≤ min/max, see
      // [[jaccardPairs]]) prunes candidate pairs INSIDE the join,
      // before the (nid, kid) aggregation
      val sh = idx.join(srcOf, Seq("doc_id")).join(sz, Seq("doc_id"))
      val newSh = sh.filter(col("source") === "src0")
        .select(col("doc_id").as("nid"), col("s"), col("n").as("na"))
      val keptSh = sh.filter(col("source") =!= "src0")
        .select(col("doc_id").as("kid"), col("s"), col("n").as("nb"))
      val band = col("na") >= lit(0.899) * col("nb") &&
        col("nb") >= lit(0.899) * col("na")
      val jac = col("inter") * lit(1.0) /
        (col("na") + col("nb") - col("inter"))
      newSh.join(keptSh, Seq("s"))
        .filter(band)
        .groupBy("nid", "na", "kid", "nb").agg(count(lit(1)).as("inter"))
        .filter(jac >= 0.9)
        .select(col("nid"), col("kid"), jac.as("jac"))
        .groupBy("nid").agg(
          max(struct(col("jac"), (-col("kid")).as("negk"))).as("m"),
          count(lit(1)).as("n_matches"))
        .select(col("nid").as("doc_id"), (-col("m.negk")).as("dup_of"),
          round(col("m.jac"), 3).as("jaccard"), col("n_matches"))
        .orderBy("doc_id")
    })

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    * one-sided overlap symmetric Jaccard misses. A short document
    * quoted whole inside a long one scores Jaccard ≈ |short|/|long|
    * (arbitrarily low) but containment ≈ 1: this is the rule that
    * catches quote-inclusion and boilerplate-wrapping duplication in a
    * crawl. Same df-capped inverted-index join as q41 (shared shingle
    * stage, one shuffle on shingle hashes) — only the normalization
    * differs, so the scale shape is identical. */
  val containment: NamedQuery = NamedQuery("q152_containment_dedup",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 1, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
           |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
           |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |       round(inter * 1.0 / least(sa.n, sb.n), 3) AS containment
           |FROM pair
           |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
           |WHERE inter * 1.0 / least(sa.n, sb.n) >= 0.9""".stripMargin),
    (s, d) => {
      val sh = sharedShingles(s, d)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = sh.toDF("id_a", "s")
      val b = sh.toDF("id_b", "s")
      val pairs = a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val cont = col("inter") * lit(1.0) / least(col("na"), col("nb"))
      // q41's footprint-gated size broadcast (jaccardPairs), per attach
      def sizes(id: String, n: String) = NamedQuery
        .maybeBroadcastByFootprint(sz.toDF(id, n), d, "documents", 2L << 30)
      pairs
        .join(sizes("id_a", "na"), "id_a")
        .join(sizes("id_b", "nb"), "id_b")
        .filter(cont >= 0.9)
        .select(col("id_a"), col("id_b"), round(cont, 3).as("containment"))
    })

  /** Cross-source overlap matrix — dataset-level diagnostics: for every
    * (source_a, source_b) pair, how many near-dup pairs (Jaccard ≥ 0.5)
    * cross them. This is the table a curation owner reads to decide
    * which feeds to drop or de-prioritize (a source that is 90%
    * duplicated against another carries little marginal signal). Built
    * by joining doc sources onto the q41 pair list; the (doc_id,
    * source) attachment SCALES WITH THE CORPUS, so its broadcast is
    * size-gated — above the gate it degrades to a shuffle join on the
    * already-small pair list. */
  val sourceOverlap: NamedQuery = NamedQuery("q153_source_overlap",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, greatest(len(ws) - 1, 1)),
           |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s FROM w),
           |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 1000),
           |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
           |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |         GROUP BY 1, 2),
           |j AS (SELECT id_a, id_b FROM pair
           |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
           |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5)
           |SELECT least(da.source, db.source) AS source_a,
           |  greatest(da.source, db.source) AS source_b,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM j JOIN documents da ON da.doc_id = id_a
           |JOIN documents db ON db.doc_id = id_b
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, d) => {
      val srcOf = t(s, d, "documents").select(col("doc_id"), col("source"))
      // q41's shared pair stage (size-band pruned, result-identical)
      jaccardPairs(s, d, bandJ = 0.4999)
        .select("id_a", "id_b")
        .join(NamedQuery.maybeBroadcast(srcOf.toDF("id_a", "src_a"),
          t(s, d, "documents"), 100L << 20), "id_a")
        .join(NamedQuery.maybeBroadcast(srcOf.toDF("id_b", "src_b"),
          t(s, d, "documents"), 100L << 20), "id_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    })

  /** Exact-substring span dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv 2107.06499 —
    * their ExactSubstr dedup, re-expressed distributed): every 8-word
    * window that occurs more than once ANYWHERE in the corpus marks
    * its 8 tokens as duplicated; overlapping marked windows merge, and
    * each document reports its duplicated-token fraction. The paper
    * builds a corpus-wide suffix array — a sequential structure with
    * no distributed analog; the window-hash formulation computes the
    * same covered-span measure with Spark-native pieces:
    * one codegen'd pass emits positional window hashes (8-byte longs,
    * never gram strings), one hash-keyed groupBy finds repeated
    * windows, one semi-join marks positions, and a per-doc window
    * merges overlaps (contribution = min(k, pos - prev)) — every
    * stage shuffle-proportional, no corpus re-scan. The lag-merge is
    * exact interval union because windows have equal length k. */
  val substringSpans: NamedQuery = NamedQuery("q173_substring_spans",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        unnest(range(1, greatest(len(ws) - 6, 1))) AS pos,
           |        unnest(list_transform(range(1, greatest(len(ws) - 6, 1)),
           |               i -> array_to_string(ws[i:i+7], ' '))) AS gram
           |      FROM w),
           |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
           |d AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
           |cov0 AS (SELECT doc_id, pos,
           |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           |         FROM d),
           |cov AS (SELECT doc_id, sum(CASE WHEN prev IS NULL THEN 8
           |                ELSE least(8, pos - prev) END) AS dup_tokens
           |        FROM cov0 GROUP BY doc_id)
           |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           |       CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           |       round(coalesce(dup_tokens, 0) * 1.0 / len(ws), 4)
           |         AS dup_fraction
           |FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id""".stripMargin),
    (s, d) => {
      val k = 8
      val docs = t(s, d, "documents").select("doc_id", "text")
      // two consumers (dup-gram aggregation + mark semi-join) — and
      // deliberately NO cache: the exploded stream is ~50× the text it
      // came from, and caching it starves the distinct-heavy
      // aggregation of the same memory (measured sf100: 59 s
      // recomputed vs 101 s cached). Re-shingling is a codegen'd
      // narrow pass over the raw text; recompute is the cheaper side
      // of the trade everywhere past the toy tiers.
      val toks = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleHashArray
          .positionalShingleHashArray(col("text"), k)))
        .toDF("doc_id", "pos", "h")
      // ~94% of windows are DISTINCT grams (Q173Probe): map-side
      // combine buys nothing, so the aggregation hash tables carry the
      // full keyspace. The sf100 fix (a 1024-wide AQE start, 88 → 44 s)
      // was a runner-only conf profile that no other caller got, and is
      // gone; an explicit footprint-derived exchange on the gram stream
      // regressed sf10 4.6 → 6.8 s (r18). Sizing reducers from the
      // DISTINCT keyspace rather than input bytes is ROADMAP
      // direction 5.
      val dup = toks.groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select("h")
      val marked = toks.join(dup, Seq("h"), "left_semi")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val cov = marked.withColumn("prev", lag("pos", 1).over(w))
        .withColumn("add", when(col("prev").isNull, lit(k))
          .otherwise(least(lit(k), col("pos") - col("prev"))))
        .groupBy("doc_id")
        .agg(sum("add").cast("long").as("dup_tokens"))
      docs.select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          round(coalesce(col("dup_tokens"), lit(0L)) * lit(1.0) /
            col("n_tokens"), 4).as("dup_fraction"))
    })

  def defs: Seq[NamedQuery] =
    Seq(exact, ngramJaccard, minhashLsh, simhash, nearDupClusters,
      minhashAudit, simhashAudit, passageDedup, keepBest, incrementalDedup,
      containment, sourceOverlap, substringSpans)
}
