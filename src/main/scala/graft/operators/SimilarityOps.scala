package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.CosineSimilarity.cosineSim

/** Similarity search over the embedding column (`array<float>`, 64-dim) —
  * the beyond-reference ANN layer.
  *
  * Cosine is computed by the codegen'd [[graft.functions.CosineSimilarity]]
  * expression (a higher-order-function formulation would leave whole-stage
  * codegen on every candidate pair).
  *
  * Scale path: brute force is O(N·Q) pairs and exists as the correctness
  * baseline; the LSH variant buckets vectors by random-hyperplane sign
  * bits so candidate generation is a bucket equi-join (shuffle on bucket
  * id), which is the formulation that survives 100 TB.
  */
object SimilarityOps extends SimilarityPq {

  /** Embedding near-duplicate pairs (cosine > 0.45), exact brute force.
    * Oracle computes the identical double-precision formula in DuckDB.
    *
    * Implementation: distributed tiled self-join. Vectors are assigned to
    * B blocks; every unordered block pair (i ≤ j) becomes one cogroup key,
    * the left role replicating block i and the right role block j. Each
    * cogroup task holds exactly two blocks in memory and compares them
    * with tight primitive loops — no driver-side collect, no broadcast of
    * the full table, no per-pair row materialization (a join-shaped plan
    * copies both 64-float arrays into every candidate-pair row; measured
    * ~6× slower). Shuffle volume is O(N·B) = O(N^1.5/√blockSize); the
    * O(N²) pair comparisons are inherent to the exact formulation — the
    * LSH (q46) and IVF (q75) paths are the sub-quadratic alternatives.
    * B is derived from plan statistics (no job at construction time). */
  val embeddingNearDup: NamedQuery = NamedQuery("q44_embedding_neardup",
    Some("""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |       x -> x * x))) AS nrm
           |  FROM embeddings)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 3) AS cos_sim
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) > 0.45""".stripMargin),
    (s, d) => {
      val spark = s
      import spark.implicits._
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
        .as[(Long, Array[Float])]
      // block count from size stats (parquet footprint / bytes-per-row);
      // target ~1k vectors per block → ~1M dot products per block pair
      val est = graft.operators.NamedQuery.estimatedRows(e.toDF(), 64 * 4 + 8)
      val b = math.max(1, math.ceil(est.toDouble / 1024.0).toInt)
      val rows = e.map { case (id, v) =>
        var s2 = 0.0; var i = 0
        while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
        (id, v, math.sqrt(s2), math.floorMod(id, b.toLong).toInt)
      }
      // pair key in Long: blk*b+j overflows Int once b > 46340 (~2B rows
      // at 1k/block), colliding cogroup keys and corrupting the pairing
      val left = rows.flatMap { case (id, v, nm, blk) =>
        Iterator.range(blk, b).map(j => (blk.toLong * b + j, id, v, nm)) }
      val right = rows.flatMap { case (id, v, nm, blk) =>
        Iterator.range(0, blk + 1).map(i => (i.toLong * b + blk, id, v, nm)) }
      left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) { (pk, ls, rs) =>
        val diag = (pk / b) == (pk % b)
        val la = ls.toArray
        val ra = rs.toArray
        la.iterator.flatMap { case (_, ida, va, na) =>
          ra.iterator
            .filter { case (_, idb, _, _) => if (diag) idb > ida else idb != ida }
            .flatMap { case (_, idb, vb, nb) =>
              var dot = 0.0; var k = 0
              val m = math.min(va.length, vb.length)
              while (k < m) { dot += va(k).toDouble * vb(k); k += 1 }
              val cos = dot / (na * nb)
              // HALF_UP to match round(x, 3) in both SQL engines
              if (cos > 0.45)
                Some((math.min(ida, idb), math.max(ida, idb), BigDecimal(cos)
                  .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
              else None
            }
        }
      }.toDF("id_a", "id_b", "cos_sim")
    })

  /** Brute-force cosine top-k: the 10 nearest neighbors of vec_id 0.
    * Deterministic ordering: (rounded similarity desc, neighbor id). */
  val annTopK: NamedQuery = NamedQuery("q45_ann_topk",
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe,
           |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |       x -> x * x))) AS qn
           |  FROM embeddings WHERE vec_id = 0),
           |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |       x -> x * x))) AS nrm
           |  FROM embeddings WHERE vec_id <> 0)
           |SELECT n.vec_id AS neighbor,
           |  round(list_dot_product(n.e, q.qe) / (n.nrm * q.qn), 4) AS cos_sim
           |FROM n CROSS JOIN q
           |ORDER BY cos_sim DESC, neighbor LIMIT 10""".stripMargin),
    (s, d) => {
      val e = t(s, d, "embeddings")
      // the query vector is an API ARGUMENT in any vector-search
      // service; here it comes from the data, so fetch it with one
      // pushed-filter point lookup and inline it as a literal — the
      // main job is then ONE stage (scan → cosine → TakeOrdered), no
      // broadcast build
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      val cos = round(cosineSim(col("embedding"), typedlit(qv)), 4)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("neighbor"), cos.as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("neighbor"))
        .limit(10)
    })

  /** Hyperplane count sized to the corpus: 2^p buckets ≈ N / occupancy,
    * so the in-bucket self-join does O(N · occupancy) comparisons —
    * linear in N — instead of the O(N²/2^p) a fixed p degrades to.
    * Clamped to [4, 24] (HyperplaneBucket packs bits into an INT). */
  def planeCount(n: Long, targetOccupancy: Long = 32L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0))
    math.max(4, math.min(24, needed.toInt))
  }

  /** In-bucket candidate pairs under adaptive random-hyperplane LSH —
    * shared by q46 and the asymptotics spec (which runs it on a 10×
    * corpus to confirm candidate growth stays near-linear). */
  def lshCandidates(e: DataFrame, seed: Long = 42L,
      nHint: Option[Long] = None): DataFrame = {
    val dims = 64
    // nHint: synthetic (non-file) corpora carry no useful plan stats
    val est = nHint.getOrElse(NamedQuery.estimatedRows(
      e.select("vec_id", "embedding"), 64 * 4 + 8))
    val rnd = new Random(seed)
    val hyper = Array.fill(planeCount(est), dims)(rnd.nextGaussian())
    // cache: the bucketed table self-joins — uncached, both sides
    // recompute the plane projections
    val bucketed = e.select(col("vec_id"), col("embedding"),
      graft.functions.HyperplaneBucket
        .hyperplaneBucket(col("embedding"), hyper).as("bucket"))
      .cache()
    val cos = cosineSim(col("emb_a"), col("emb_b"))
    bucketed.toDF("id_a", "emb_a", "bucket")
      .join(bucketed.toDF("id_b", "emb_b", "bucket"), Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), round(cos, 4).as("cos_sim"))
  }

  /** LSH-bucketed ANN: corpus-adaptive hyperplane sign buckets; nearest
    * neighbor searched only within a vector's bucket. One shuffle on
    * bucket id, then tight primitive loops per bucket emit each vector's
    * best neighbor directly — no candidate-pair rows materialize and no
    * second Window shuffle (the join-then-rank formulation copies both
    * 64-float arrays into every pair row; clustered corpora skew buckets,
    * making that materialization the dominant cost).
    *
    * MULTI-PROBE (r11): a vector alone in its bucket used to get no
    * neighbor at all — the sole source of coverage < 1 in the q121
    * audit. Singletons now also PROBE the p buckets at Hamming
    * distance 1 (each probe row competes against the probed bucket's
    * home members, the standard multi-probe direction; home members
    * never see probe rows as candidates). Only singletons fan out, so
    * the blowup is p × (singleton fraction) ≈ nothing, and the final
    * per-vector argmax over probe results is a shuffle of bare
    * (id, nn, cos) triples. No oracle (approximate by construction);
    * q121 coverage/bounds/gap audit + PipelineSpec recall law. */
  val annLsh: NamedQuery = NamedQuery("q46_ann_lsh", None,
    (s, d) => lshOneNN(s,
      t(s, d, "embeddings").select("vec_id", "embedding"), None))

  /** The q46 engine, reusable over any (vec_id, embedding) frame —
    * q171 runs it over the SemDeDup representative set. */
  private[graft] def lshOneNN(s: SparkSession, e: DataFrame,
      nHint: Option[Long]): DataFrame = {
      val spark = s
      import spark.implicits._
      val est = nHint.getOrElse(NamedQuery.estimatedRows(
        e.select("vec_id", "embedding"), 64 * 4 + 8))
      val p = planeCount(est)
      val rnd = new Random(42)
      val hyper = Array.fill(p, 64)(rnd.nextGaussian())
      val bucketed = e.select(col("vec_id"), col("embedding"),
        graft.functions.HyperplaneBucket
          .hyperplaneBucket(col("embedding"), hyper).as("bucket"))
      // bucket occupancy rides the same bucket-keyed exchange shape;
      // only size-1 buckets' vectors emit probe rows
      val sizes = bucketed.groupBy("bucket").agg(count(lit(1)).as("bcnt"))
      bucketed.join(sizes, Seq("bucket"))
        .select(col("vec_id"), col("embedding"), col("bucket"), col("bcnt"))
        .as[(Long, Array[Float], Int, Long)]
        .flatMap { case (id, v, bk, cnt) =>
          val home = Iterator((id, v, bk, true))
          if (cnt > 1L) home
          else home ++ (0 until p).iterator
            .map(k => (id, v, bk ^ (1 << k), false))
        }
        .groupByKey(_._3)
        .flatMapGroups { (_, it) =>
          val arr = it.toArray
          val norms = arr.map { case (_, v, _, _) =>
            var s2 = 0.0; var i = 0
            while (i < v.length) { s2 += v(i).toDouble * v(i); i += 1 }
            math.sqrt(s2)
          }
          // candidates are the bucket's HOME members only
          val mem = arr.indices.filter(arr(_)._4).toArray
          arr.indices.iterator.flatMap { i =>
            val (ida, va, _, _) = arr(i)
            var bestId = -1L
            var bestCos = Double.MinValue
            var mj = 0
            while (mj < mem.length) {
              val j = mem(mj)
              if (arr(j)._1 != ida) {
                val vb = arr(j)._2
                var dot = 0.0; var k = 0
                val m = math.min(va.length, vb.length)
                while (k < m) { dot += va(k).toDouble * vb(k); k += 1 }
                val cos = BigDecimal(dot / (norms(i) * norms(j)))
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                // deterministic tie-break: higher cos, then smaller id
                if (cos > bestCos ||
                  (cos == bestCos && arr(j)._1 < bestId)) {
                  bestCos = cos; bestId = arr(j)._1
                }
              }
              mj += 1
            }
            if (bestId >= 0) Some((ida, bestId, bestCos)) else None
          }
        }
        // non-singletons produce exactly one candidate triple; a
        // singleton's p probes reduce to its global best here
        .groupByKey(_._1)
        .reduceGroups((a, b) =>
          if (a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)) a else b)
        .map(_._2)
        .toDF("vec_id", "nn", "cos_sim")
  }

  /** IVF cell count ≈ √N — the classical sizing: with nprobe cells
    * probed, per-query work is nprobe·N/nlist = O(√N). Capped at 4096
    * (beyond that the centroid argmax itself wants its own index). */
  def ivfNlist(n: Long): Int =
    math.max(4, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** IVF coarse quantizer: Lloyd k-means over a bounded sample of
    * L2-normalized vectors — Euclidean on the unit sphere orders like
    * cosine. The sample cap keeps training cost flat as the corpus
    * grows; centroids (≈√N rows) are metadata-sized and feed a
    * broadcast argmax.
    *
    * Training runs as ONE distributed job (the sample collect — ≤
    * 65536×dim floats ≈ 16 MB, driver-safe by the cap) plus a local
    * MULTI-THREADED Lloyd loop, replacing the r17 MLlib KMeans fit:
    * kmeans‖ init + 5 iterations launched ~12 tiny Spark jobs over the
    * same bounded sample, pure scheduling floor at every tier
    * (StagesProbe2 sf0.1: 1.3–3.2 s; the local loop trains in < 0.1 s
    * and ~0.7 s at the sf100 sizing of 65536×2236×64×5 flops across
    * the cores). Same trade [[pqTrain]] adopted for the codebooks in
    * r16 — the sample is metadata-sized BY CONSTRUCTION, so driver
    * training is the scale-correct shape, and the assignment/encode
    * stages stay distributed. Deterministic: seeded sample,
    * evenly-strided init, fixed-chunk parallel accumulation (partials
    * reduced in chunk order, so thread count never changes the sums).
    * Centroid VALUES differ from the MLlib fit (different init); every
    * consumer is an engine-defined ANN path whose contracts are the
    * recall-floored audit twins (q121/q122/q172/q177/q188) — all green
    * under this quantizer, margins in OPTIMIZATION_r18.md.
    *
    * r19: the sample is collected WITH vec_id and sorted by it before
    * training, so centroids are reproducible across session configs
    * (the collect order depends on input-split planning — file layout,
    * maxPartitionBytes, core count — which the r18 init leaked into
    * the artifact; ADVICE r18). The r18-verdict hypothesis that the
    * strided init skews cell occupancy (the suspected q189 regression
    * cause) was MEASURED AND REFUTED this round: Q189Probe at sf0.1
    * shows occupancy sd 5.1 (strided) vs 4.8 (k-means++) with probe
    * scan parity (669 vs 671 of 2000), and the k-means++ arm measured
    * q171 consistently ~0.13 s WORSE (different cell boundaries move
    * the dedup groups) with q189 a wash — so the strided init stays. */
  def ivfCentroids(s: SparkSession, e: DataFrame, nlist: Int,
      sampleCap: Int = 65536): DataFrame = {
    val spark = s
    import spark.implicits._
    val est = NamedQuery.estimatedRows(
      e.select("vec_id", "embedding"), 64 * 4 + 8)
    val frac = math.min(1.0, sampleCap.toDouble / est.toDouble)
    val e2 = e.select("vec_id", "embedding")
    val sample =
      if (frac >= 1.0) e2 else e2.sample(withReplacement = false, frac, 7L)
    val normed: Array[Array[Double]] = sample
      .as[(Long, Array[Float])].map { case (id, v) =>
        var n2 = 0.0; var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val nm = math.sqrt(n2)
        (id, v.map(x => if (nm == 0.0) 0.0 else x / nm))
      }.collect().sortBy(_._1).map(_._2)
    val k = math.min(nlist, normed.length)
    val cents = parallelKMeans(normed, k, iters = 5)
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat)) }
      .toSeq.toDF("cid", "cent")
  }

  /** Deterministic multi-threaded Lloyd over a metadata-sized sample:
    * centers start evenly strided over the sorted sample, point
    * assignment is parallelized over FIXED index chunks, and per-chunk
    * partial sums fold sequentially in chunk order — bit-reproducible
    * for any thread count. Empty clusters keep their center (the
    * [[SimilarityPq.localKMeans]] convention, which this generalizes
    * with a thread pool because the coarse quantizer's k·sample·dim is
    * ~100× the codebooks'). Why strided and not k-means++: see
    * [[ivfCentroids]]. */
  private[graft] def parallelKMeans(data: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val n = data.length
    require(n > 0 && k > 0, s"parallelKMeans on n=$n k=$k")
    val dim = data(0).length
    val nChunks = math.min(256, n)
    val bounds = Array.tabulate(nChunks + 1)(c => ((c.toLong * n) / nChunks).toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors - 1))
    try {
      val cents =
        Array.tabulate(k)(i => data(((i.toLong * n) / k).toInt).clone())
      var it = 0
      while (it < iters) {
        val tasks = (0 until nChunks).map { c =>
          pool.submit(new java.util.concurrent.Callable[
              (Array[Array[Double]], Array[Long])] {
            def call(): (Array[Array[Double]], Array[Long]) = {
              val sums = Array.ofDim[Double](k, dim)
              val counts = new Array[Long](k)
              var p = bounds(c)
              while (p < bounds(c + 1)) {
                val v = data(p)
                var best = 0; var bestD = Double.MaxValue
                var ci = 0
                while (ci < k) {
                  val ct = cents(ci)
                  var dsq = 0.0; var i = 0
                  while (i < dim) {
                    val df = v(i) - ct(i); dsq += df * df; i += 1
                  }
                  if (dsq < bestD) { bestD = dsq; best = ci }
                  ci += 1
                }
                val sb = sums(best)
                var i = 0
                while (i < dim) { sb(i) += v(i); i += 1 }
                counts(best) += 1
                p += 1
              }
              (sums, counts)
            }
          })
        }
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        tasks.foreach { f => // folded in chunk order: deterministic sums
          val (ps, pc) = f.get()
          var ci = 0
          while (ci < k) {
            var i = 0
            while (i < dim) { sums(ci)(i) += ps(ci)(i); i += 1 }
            counts(ci) += pc(ci)
            ci += 1
          }
        }
        var ci = 0
        while (ci < k) {
          if (counts(ci) > 0L) {
            var i = 0
            while (i < dim) { cents(ci)(i) = sums(ci)(i) / counts(ci); i += 1 }
          }
          ci += 1
        }
        it += 1
      }
      cents
    } finally { pool.shutdown(); () }
  }

  /** Cell assignment: argmax cosine over the broadcast centroid
    * matrix in ONE NARROW MAP — no exchange at all. The r10 join +
    * row_number formulation materialized N×nlist rows (every
    * embedding copied nlist times) and pushed them through a window
    * shuffle; at sf100 that is 5M×2236 512-byte rows. Centroids are
    * metadata-sized (≤4096×64 floats = 1 MB — the same √N bound that
    * justifies the Engine's IVF centroid fetch), so the driver
    * collect + task broadcast is the scale-correct shape. Ties break
    * to the smaller cid, matching the old window order. */
  def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cn: Array[(Array[Float], Double)] =
      cents.as[(Long, Array[Float])].collect().sortBy(_._1).map {
        case (_, c) =>
          var s2 = 0.0; var i = 0
          while (i < c.length) { s2 += c(i).toDouble * c(i); i += 1 }
          (c, math.sqrt(s2))
      }
    val bc = spark.sparkContext.broadcast(cn)
    e.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bc.value
        var n2 = 0.0; var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val nv = math.sqrt(n2)
        var best = 0; var bestCos = Double.MinValue
        var c = 0
        while (c < cs.length) {
          val (cv, cnm) = cs(c)
          var dot = 0.0; var j = 0
          val m = math.min(v.length, cv.length)
          while (j < m) { dot += v(j).toDouble * cv(j); j += 1 }
          val cos = dot / (nv * cnm)
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        (id, v, best.toLong)
      }
      .toDF("vec_id", "embedding", "cell")
  }

  /** IVF ANN: the sampled-k-means coarse quantizer assigns every vector
    * to its nearest centroid cell (broadcast argmax); queries probe only
    * their `nprobe` nearest cells via a cell-keyed equi-join — candidate
    * generation never enumerates all pairs, which is the property that
    * survives 100 TB. No oracle (approximate by construction);
    * PipelineSpec bounds recall@10 against the brute-force baseline. */
  val annIvf: NamedQuery = NamedQuery("q75_ann_ivf", None,
    (s, d) => {
      val nprobe = 4
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val est = NamedQuery.estimatedRows(e, 64 * 4 + 8)
      val cents = ivfCentroids(s, e, ivfNlist(est))
      val assigned = ivfAssign(e, cents)
      // queries probe their nprobe nearest cells
      val queries = e.filter(col("vec_id") < 10).toDF("qid", "q_emb")
      val wProbe = Window.partitionBy("qid")
        .orderBy(col("qc").desc, col("cid"))
      val probes = queries.crossJoin(broadcast(cents))
        .select(col("qid"), col("q_emb"), col("cid"),
          cosineSim(col("q_emb"), col("cent")).as("qc"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nprobe)
        .select(col("qid"), col("q_emb"), col("cid").as("cell"))
      // search only within probed cells
      val wTop = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      probes.join(assigned, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosineSim(col("q_emb"), col("embedding")), 4).as("cos_sim"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id").as("neighbor"), col("cos_sim"),
          col("rn").as("rank"))
    })

  /** Oracle-checked audit of the LSH ANN pass against the exact
    * nearest-neighbor baseline: the corpus count hash-matches outright;
    * every vector must receive a neighbor (coverage ≥ 0.99, measured over
    * the WHOLE corpus from the LSH output itself — multi-probe lifted
    * measured coverage to 1.0 at sf0.001/0.01/0.1, AnnFloorProbe r11);
    * no reported similarity may beat the true best (beyond 4-dp
    * rounding); and the mean reported similarity must stay within 0.17
    * of the mean true best (measured gap 0.104-0.136 across tiers on
    * the near-random synthetic embeddings — real clustered corpora do
    * far better; the bound sits half the old margin above the worst
    * measured tier, close enough to catch a real quality regression). The exact side runs only for a FIXED 100-query probe
    * set (the 100 smallest vec_ids): O(100·n) with the probes
    * broadcast, so the audit stays runnable at every scale tier — the
    * round-3 all-pairs formulation was O(n²) and died past sf0.1. */
  val annLshAudit: NamedQuery = NamedQuery("q121_ann_lsh_audit",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_vecs, true AS coverage_ok,
           |true AS bounds_ok, true AS gap_ok FROM embeddings""".stripMargin),
    (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      // probe set = the 100 smallest vec_ids via sort+limit
      // (TakeOrderedAndProject), not a literal `< 100` predicate: ids
      // need not start at 0, and the set must never silently shrink
      val probes = e.orderBy("vec_id").limit(100).toDF("qid", "q_emb")
      val best = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid")
        .agg(max(cosineSim(col("q_emb"), col("embedding"))).as("best_cos"))
      // two consumers (corpus-wide coverage + probe-set bounds) in
      // different jobs: cache, or the LSH pipeline re-runs per consumer
      val lsh = annLsh.fn(s, d).select("vec_id", "cos_sim").cache()
      val cov = e.join(lsh, Seq("vec_id"), "left_outer").agg(
        count(lit(1)).as("n_vecs"),
        (count(col("cos_sim")) * 1.0 >= count(lit(1)) * 0.99)
          .as("coverage_ok"))
      // coalesce to false: if NO probe received an LSH neighbor, the
      // aggregates are all-NULL and the audit must FAIL, not null out
      val samp = best.join(lsh, col("qid") === col("vec_id"), "left_outer")
        .agg(
          coalesce(max(col("cos_sim") - col("best_cos")) <= 1e-3,
            lit(false)).as("bounds_ok"),
          coalesce(avg(col("cos_sim")) >= avg(col("best_cos")) - 0.17,
            lit(false)).as("gap_ok"))
      cov.crossJoin(samp)
        .select("n_vecs", "coverage_ok", "bounds_ok", "gap_ok")
    })

  /** Oracle-checked audit of the IVF ANN pass: each of the 10 probe
    * queries must return a full top-10; mean recall@10 against the
    * brute-force exact top-10 must stay ≥ 0.25 (measured 0.38-0.47
    * across tiers on the near-random synthetic embeddings, whose
    * neighbors barely cluster — AnnFloorProbe r11; the floor sits half
    * the old margin below the worst tier, so it catches a real index
    * regression instead of only total collapse); and no
    * reported similarity may beat the query's true best. */
  val annIvfAudit: NamedQuery = NamedQuery("q122_ann_ivf_audit",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS rows_ok,
           |true AS recall_ok, true AS bounds_ok
           |FROM embeddings WHERE vec_id < 10""".stripMargin),
    (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") < 10).toDF("qid", "q_emb")
      val wTop = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id"))
      val exact10 = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosineSim(col("q_emb"), col("embedding")), 4).as("cos"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
      val ivf = annIvf.fn(s, d)
        .select(col("qid").as("iq"), col("neighbor"), col("cos_sim"))
      val perQ = exact10
        .join(ivf, col("qid") === col("iq") &&
          col("vec_id") === col("neighbor"), "full_outer")
        .select(coalesce(col("qid"), col("iq")).as("q"),
          col("vec_id").isNotNull.as("in_exact"),
          col("neighbor").isNotNull.as("in_ivf"),
          col("cos"), col("cos_sim"))
        .groupBy("q").agg(
          count_if(col("in_ivf")).as("n_ivf"),
          count_if(col("in_exact") && col("in_ivf")).as("n_hit"),
          max(when(col("in_ivf"), col("cos_sim"))).as("ivf_best"),
          max(when(col("in_exact"), col("cos"))).as("true_best"))
      perQ.agg(count(lit(1)).as("n_queries"),
        (min(col("n_ivf")) === 10).as("rows_ok"),
        (avg(col("n_hit")) >= 2.5).as("recall_ok"),
        (max(col("ivf_best") - col("true_best")) <= 1e-3).as("bounds_ok"))
    })

  /** Embedding near-dup CLUSTERS: connected components over the exact
    * cosine pair graph (q44's tiled self-join feeds the same
    * large-star/small-star rounds as the text-side q95), each vector
    * labeled with its component's min vec_id — the semantic-dedup
    * variant of near-dup clustering, where the pipeline keeps one
    * representative per embedding cluster. O(log n)-round convergence
    * on any cluster shape; no driver materialization. Oracle: the same
    * components via a recursive transitive-closure CTE over the q44
    * pair SQL. */
  val embeddingClusters: NamedQuery = NamedQuery("q134_embedding_clusters",
    Some(s"""WITH RECURSIVE
            |p AS (SELECT id_a, id_b FROM (${embeddingNearDup.oracle.get}) t),
            |edges AS (SELECT id_a AS s, id_b AS d FROM p
            |          UNION SELECT id_b, id_a FROM p),
            |reach(a, b) AS (
            |  SELECT s, d FROM edges
            |  UNION
            |  SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
            |rep AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_rep
            |        FROM reach GROUP BY a)
            |SELECT vec_id, cluster_rep,
            |  count(*) OVER (PARTITION BY cluster_rep) AS n_members
            |FROM rep ORDER BY vec_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = embeddingNearDup.fn(s, d).select("id_a", "id_b")
      val stars = DedupOps.connectedComponents(pairs)
      val labels = stars.select(col("doc_id").as("vec_id"), col("rep"))
        .union(stars.select(col("rep")).distinct()
          .select(col("rep").as("vec_id"), col("rep")))
      labels
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("rep")))
        .select(col("vec_id"), col("rep").as("cluster_rep"),
          col("n_members"))
        .orderBy("vec_id")
    })

  /** Symmetric int8 quantization of the embedding column — the 4×
    * compression an ANN serving tier applies before indexing (scale =
    * max|x|/127 per vector, q_i = round(x_i/scale) clamped to ±127).
    * The oracle recomputes the IDENTICAL quantization in DuckDB and
    * compares exact integer checksums per label (Σ|q_i| and Σq_i over
    * each label's vectors): every arithmetic step — float→double
    * promotion, division, round-half-away, clamp — is deterministic
    * IEEE 754, so a single off-by-one in any quantized value flips the
    * hash. Zero vectors (scale = 0) are excluded identically on both
    * sides.
    *
    * Scale shape: a narrow per-row transform (no shuffle) + one
    * combiner-friendly aggregation on label; the higher-order-function
    * lambdas stay off the hot path (this runs once per corpus snapshot,
    * unlike the per-pair cosine which got a codegen'd expression). */
  val embeddingQuantize: NamedQuery = NamedQuery("q139_embedding_quantize",
    Some("""WITH q AS (SELECT vec_id, label,
           |    CAST(embedding AS DOUBLE[]) AS e,
           |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> abs(x))) / 127 AS scale
           |  FROM embeddings),
           |z AS (SELECT label,
           |    list_transform(e, x ->
           |      greatest(least(round(x / scale), 127), -127)) AS qv
           |  FROM q WHERE scale > 0)
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           |  CAST(sum(list_sum(list_transform(qv, v -> abs(v))))
           |    AS BIGINT) AS l1_sum,
           |  CAST(sum(list_sum(qv)) AS BIGINT) AS signed_sum
           |FROM z GROUP BY label ORDER BY label""".stripMargin),
    (s, d) => {
      val ed = transform(col("embedding"), x => x.cast("double"))
      val qv = transform(col("e"), x =>
        greatest(least(round(x / col("scale")), lit(127.0)), lit(-127.0)))
      t(s, d, "embeddings")
        .select(col("label"), ed.as("e"),
          (array_max(transform(ed, x => abs(x))) / 127).as("scale"))
        .filter(col("scale") > 0)
        .select(col("label"), qv.as("qv"))
        .select(col("label"),
          aggregate(col("qv"), lit(0L), (a, v) =>
            a + abs(v).cast("long")).as("l1"),
          aggregate(col("qv"), lit(0L), (a, v) =>
            a + v.cast("long")).as("sq"))
        .groupBy("label").agg(
          count(lit(1)).as("n_vecs"),
          sum("l1").as("l1_sum"),
          sum("sq").as("signed_sum"))
        .orderBy("label")
    })

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, the
    * public method): pairwise cosine is computed only WITHIN a
    * cluster, and an item is dropped when a lower-id member of its own
    * cluster sits above the similarity threshold (keep-first — the
    * deterministic stand-in for the paper's keep-farthest-from-
    * centroid tie rule). The `label` column plays the cluster
    * assignment here so the DuckDB oracle can replay the identical
    * partition; at 100 TB the assignment comes from the clustering
    * stage already in the library (q134 components / q75 IVF
    * centroids) and this operator consumes it unchanged.
    *
    * Scale shape: the join key IS the cluster id, so candidate
    * generation is a bucket equi-join — pair count is Σ|cluster|²,
    * bounded by the clustering stage's cell sizing (the same
    * guarantee the LSH band join rides), never corpus². One shuffle
    * on label; the anti-join dedups on vec_id. */
  val semanticDedup: NamedQuery = NamedQuery("q166_semantic_dedup",
    Some("""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
           |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |       x -> x * x))) AS nrm
           |  FROM embeddings),
           |dup AS (SELECT DISTINCT b.vec_id FROM n a JOIN n b
           |  ON a.label = b.label AND a.vec_id < b.vec_id
           |  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) > 0.4)
           |SELECT n.vec_id, n.label, n.vec_id NOT IN
           |  (SELECT vec_id FROM dup) AS keep
           |FROM n ORDER BY vec_id""".stripMargin),
    (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "label", "embedding")
      val a = e.select(col("vec_id").as("id_a"), col("label"),
        col("embedding").as("ea"))
      val bSide = e.select(col("vec_id").as("id_b"), col("label"),
        col("embedding").as("eb"))
      val dup = a.join(bSide, Seq("label"))
        .filter(col("id_a") < col("id_b") &&
          cosineSim(col("ea"), col("eb")) > 0.4)
        .select(col("id_b").as("vec_id")).distinct()
      e.join(dup.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(!col("is_dup"), lit(true)).as("keep"))
        .orderBy("vec_id")
    })

  /** SemDeDup grouping stage over IVF cells — the scale-true cluster
    * assignment (q166 uses the table's coarse `label` so its DuckDB
    * oracle can replay the partition; 10 labels over a 100 TB corpus
    * would make the within-group pair join quadratic, so the pipeline
    * variant groups by the √N k-means cells the library already
    * builds for q75).
    *
    * Oversized-cell guard: duplicate-heavy corpora concentrate copies
    * into few cells (the exact q46 failure mode at the sf100 decade
    * tier), so any cell past `cap` is sub-split by hyperplane sign
    * bits — ceil(log2(csz/cap)) bits, i.e. just enough to bring the
    * expected group back under cap. Near-identical copies share sign
    * bits, so a split group still holds its duplicates together (the
    * dedup pass must see them in one group to drop them); what a split
    * can miss is only cross-subbucket pairs that were already
    * borderline under the cosine threshold — the same bounded-recall
    * trade the LSH band join makes. The guard therefore bounds DIVERSE
    * hot cells (the k-means-collapse failure mode); copy-concentrated
    * groups stay large by design and are handled by the keep-first
    * scan in [[semdedupReps]], whose cost is O(m·kept) per group, not
    * O(m²). Returns (vec_id, embedding, gkey). */
  private[graft] def semdedupGroups(s: SparkSession, e: DataFrame,
      cap: Long = 2048L): DataFrame = {
    val est = NamedQuery.estimatedRows(
      e.select("vec_id", "embedding"), 64 * 4 + 8)
    // The dedup stage wants GROUPING, not search quality: a coarse
    // quantizer (≤256 cells, 16k training sample) costs k×sample×iters
    // flops instead of q75's √N sizing — the sub-split guard absorbs
    // the coarseness by capping whatever the quantizer leaves big.
    // (√N cells at sf100 would spend more time training k-means than
    // the dedup pass it serves.)
    val nlist = math.min(256, ivfNlist(est))
    val cents = ivfCentroids(s, e, nlist, sampleCap = 16384)
    val assigned = ivfAssign(e, cents)
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("csz"))
    val pMax = 16
    val rnd = new Random(99L)
    val hyper = Array.fill(pMax, 64)(rnd.nextGaussian())
    val sub = graft.functions.HyperplaneBucket
      .hyperplaneBucket(col("embedding"), hyper)
    val bits = least(lit(pMax),
      ceil(log(2.0, col("csz").cast("double") / cap))).cast("int")
    // gkey = cell ‖ masked sub-bits: cells are < 4096 (ivfNlist cap)
    // and the mask keeps ≤ pMax sub-bits, so the key packs into a long
    assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("mask",
        when(col("csz") <= cap, lit(0))
          .otherwise(pow(lit(2.0), bits.cast("double")).cast("int") - 1))
      .select(col("vec_id"), col("embedding"),
        (col("cell").cast("long") * lit(1L << 17) +
          (sub.bitwiseAND(col("mask"))).cast("long")).as("gkey"))
  }

  /** SemDeDup representative set: greedy keep-first scan per group —
    * members in vec_id order, each compared against the group's KEPT
    * set only; a vector joins the kept set unless some kept lower-id
    * mate sits above the cosine threshold. One shuffle on gkey, then
    * O(m·kept) work per group — on a duplicate-heavy corpus kept ≈
    * (originals per group), so a 1000-copy group costs ~1000
    * comparisons where a pair join would materialize ~500k pair rows
    * (the exact blowup q46 hits on the sf100 decade tier). Greedy
    * keep-first also yields the audit invariant directly: no two kept
    * vectors in a group are above-threshold similar, and every
    * dropped vector has a KEPT lower-id justification. */
  private[graft] def keepFirst(g: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    g.select("gkey", "vec_id", "embedding")
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (gk, it) =>
        val arr = it.toArray.sortBy(_._2)
        // kept: (id, vec, norm) — the running representative set
        val kept = scala.collection.mutable
          .ArrayBuffer.empty[(Long, Array[Float], Double)]
        arr.iterator.flatMap { case (_, id, v) =>
          var n2 = 0.0; var i = 0
          while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
          val nv = math.sqrt(n2)
          val dup = kept.exists { case (_, kv, kn) =>
            var dot = 0.0; var j = 0
            val m = math.min(v.length, kv.length)
            while (j < m) { dot += v(j).toDouble * kv(j); j += 1 }
            dot / (nv * kn) > threshold
          }
          if (dup) None
          else { kept += ((id, v, nv)); Some((id, v, gk)) }
        }
      }
      .toDF("vec_id", "embedding", "gkey")
  }
  private[graft] def semdedupReps(s: SparkSession, e: DataFrame,
      threshold: Double = 0.4): DataFrame =
    keepFirst(semdedupGroups(s, e), threshold)

  /** Dedup-then-ANN: the production composition for duplicate-heavy
    * corpora. The sf100 decade tier (1000 noisy copies per original)
    * is exactly where bucketed ANN degrades — near-identical copies
    * collide in one LSH bucket regardless of plane count, so q46's
    * in-bucket work grows with the square of the copy multiplicity.
    * The pipeline answer is to pay the duplicate cost ONCE in a
    * dedup pass whose per-group cost is O(m·kept), not O(m²), and
    * search the representative set: SemDeDup over IVF cells
    * (oversize-split + greedy keep-first) → q46's multi-probe LSH
    * one-NN over the survivors. Output is one
    * (vec_id, nn, cos_sim) row per representative. No oracle (k-means
    * cells + LSH are engine-defined); q172 is the oracle-checked
    * audit twin. Public method: Abbas et al., SemDeDup (arXiv
    * 2303.09540) — dedup-before-index is the paper's stated purpose. */
  val dedupThenAnn: NamedQuery = NamedQuery("q171_dedup_then_ann", None,
    (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      // two consumers (bucket + occupancy) plus a count: cache, or the
      // dedup join re-runs per consumer
      val reps = semdedupReps(s, e).select("vec_id", "embedding").cache()
      lshOneNN(s, reps, Some(reps.count()))
    })

  /** Oracle-checked audit twin of q171 (the q121 pattern): the corpus
    * count hash-matches outright; the dedup stage must be SOUND (no
    * surviving within-group pair above the threshold — the engine
    * re-checks its own output and the oracle pins the verdict column
    * to true) and COMPLETE (every dropped vector has a lower-id
    * group-mate above threshold — no over-dropping); every
    * representative must receive a neighbor (multi-probe coverage,
    * ≥ 0.99); and on the 100-smallest-rep probe set no reported
    * similarity may beat the true best among representatives beyond
    * 4-dp rounding. */
  val dedupThenAnnAudit: NamedQuery = NamedQuery("q172_dedup_then_ann_audit",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_vecs, true AS dedup_sound,
           |true AS dedup_complete, true AS coverage_ok, true AS bounds_ok
           |FROM embeddings""".stripMargin),
    (s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val g = semdedupGroups(s, e).cache()
      val kept = keepFirst(g).cache()
      val reps = kept.select("vec_id", "embedding")
      // sound: no two KEPT group-mates above threshold — checked by a
      // kept×kept pair join (kept sets are small, the join is cheap),
      // independently of the greedy scan that produced them
      val ka = kept.select(col("vec_id").as("id_a"), col("gkey"),
        col("embedding").as("ea"))
      val kb = kept.select(col("vec_id").as("id_b"), col("gkey"),
        col("embedding").as("eb"))
      val sound = ka.join(kb, Seq("gkey"))
        .filter(col("id_a") < col("id_b") &&
          cosineSim(col("ea"), col("eb")) > 0.4)
        .agg(coalesce(count(lit(1)) === 0, lit(true)).as("dedup_sound"))
      // complete: every dropped vector has a KEPT lower-id group-mate
      // above threshold (no over-dropping)
      val dropped = g.join(kept.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val justified = dropped
        .select(col("vec_id").as("id_d"), col("gkey"),
          col("embedding").as("ed"))
        .join(ka, Seq("gkey"))
        .filter(col("id_a") < col("id_d") &&
          cosineSim(col("ea"), col("ed")) > 0.4)
        .select(col("id_d").as("vec_id")).distinct()
      val complete = dropped.select("vec_id")
        .join(justified, Seq("vec_id"), "left_anti")
        .agg(coalesce(count(lit(1)) === 0, lit(true))
          .as("dedup_complete"))
      val lsh = lshOneNN(s, reps, Some(reps.count()))
        .select("vec_id", "cos_sim").cache()
      val cov = e.agg(count(lit(1)).as("n_vecs")).crossJoin(
        reps.join(lsh, Seq("vec_id"), "left_outer").agg(
          (count(col("cos_sim")) * 1.0 >= count(lit(1)) * 0.99)
            .as("coverage_ok")))
      val probes = reps.orderBy("vec_id").limit(100).toDF("qid", "q_emb")
      val best = reps.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid")
        .agg(max(cosineSim(col("q_emb"), col("embedding"))).as("best_cos"))
      val bounds = best.join(lsh, col("qid") === col("vec_id"), "left_outer")
        .agg(coalesce(max(col("cos_sim") - col("best_cos")) <= 1e-3,
          lit(false)).as("bounds_ok"))
      cov.crossJoin(sound).crossJoin(complete).crossJoin(bounds)
        .select("n_vecs", "dedup_sound", "dedup_complete",
          "coverage_ok", "bounds_ok")
    })

  def defs: Seq[NamedQuery] =
    Seq(embeddingNearDup, annTopK, annLsh, annIvf, annLshAudit, annIvfAudit,
      embeddingClusters, embeddingQuantize, semanticDedup,
      dedupThenAnn, dedupThenAnnAudit, annIvfPq, annIvfPqAudit)
}
