package graft

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line. Each
  * query is fully materialized through a noop sink (count() would let
  * Catalyst prune the compute columns). */
object Bench {
  /** One timed run of query `name` on `dir`, fully materialized through
    * a noop sink. The production formulation: the override map swaps in
    * the sketch-only q94 (audit excluded — it's per-snapshot, not
    * per-query). */
  private[graft] def runQuery(spark: SparkSession, name: String, dir: String)
      : Unit =
    SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))
      .apply(spark, dir)
      .write.mode("overwrite").format("noop").save()

  /** The quiet anchors in `path`: tier key → sentinel floor. A missing
    * or unreadable file reads as no anchors. */
  private[graft] def readAnchors(path: Path): Map[String, Double] =
    try {
      if (!Files.isRegularFile(path)) Map.empty
      else new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
        .linesIterator.flatMap { l =>
          l.split("\t") match {
            case Array(k, v) => Some(k -> v.toDouble)
            case _ => None
          }
        }.toMap
    } catch { case _: Throwable => Map.empty }

  /** The quiet-anchor file: `~/.cache/graft/graft_floor_baseline.txt`,
    * its directory created on the first merge. */
  private[graft] def anchorPath: Path = java.nio.file.Paths.get(
    sys.props("user.home"), ".cache", "graft", "graft_floor_baseline.txt")

  /** Min-merges `floor` into the anchor for `key` in `path`. The
    * read-modify-write holds an exclusive lock on a sibling lock file
    * (file locks are per JVM, so threads also serialize on this
    * object), so concurrent benches cannot lose each other's anchor;
    * the new content lands by an atomic rename of a temp file, so a
    * reader never sees a torn file (which would read as no anchor). */
  private[graft] def mergeAnchor(path: Path, key: String, floor: Double)
      : Unit = synchronized {
    Files.createDirectories(path.getParent)
    val lock = FileChannel.open(
      path.resolveSibling(path.getFileName.toString + ".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      lock.lock()
      val m = readAnchors(path)
      val merged =
        m.updated(key, math.min(m.getOrElse(key, Double.MaxValue), floor))
      val tmp = Files.createTempFile(path.getParent,
        path.getFileName.toString, ".tmp")
      try {
        Files.write(tmp, merged.toSeq.sorted.map { case (k, v) => s"$k\t$v" }
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    } finally lock.close() // releases the lock
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    // optional comma-separated subset (scale-tier runs time only the
    // heavyweights)
    val wanted = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val benchSet = SparkEntry.benchQueries
      .filter(q => wanted.forall(_.contains(q)))
    val tierBytes = GraftSession.tierBytes(sfDir)
    // Tier fingerprint: (relative path, size, head+tail content blocks)
    // of every file under the tier dir, hashed — cross-round ratio
    // moves then separate CODE from DATA (the r16 q68 attribution
    // burned a worktree-control round on exactly this ambiguity).
    // CONTENT-STRENGTHENED in r18: the first and last 4 KB of every
    // file fold into the digest, so a regeneration that happens to
    // preserve every file size can no longer collide (parquet footers
    // live in the tail block, so any rewrite moves the hash). The
    // format change breaks comparability with pre-r18 tier_hash values
    // exactly once — noted in BENCH_NOTES.
    val tierHash = {
      val dir = java.nio.file.Paths.get(sfDir)
      if (!java.nio.file.Files.isDirectory(dir)) "absent"
      else {
        val s = java.nio.file.Files.walk(dir)
        val files =
          try s.filter(java.nio.file.Files.isRegularFile(_)).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .sortBy(p => dir.relativize(p).toString)
          finally s.close()
        val md = java.security.MessageDigest.getInstance("MD5")
        files.foreach { p =>
          val size = java.nio.file.Files.size(p)
          md.update((dir.relativize(p).toString + ":" + size + ":")
            .getBytes("UTF-8"))
          val ch = java.nio.channels.FileChannel.open(p)
          try {
            def feed(pos: Long): Unit = {
              val bb = java.nio.ByteBuffer.allocate(4096)
              var at = pos; var eof = false
              while (bb.hasRemaining && !eof) {
                val n = ch.read(bb, at)
                if (n < 0) eof = true else at += n
              }
              bb.flip(); md.update(bb)
            }
            feed(0L)
            if (size > 4096) feed(size - 4096)
          } finally ch.close()
        }
        md.digest().map("%02x".format(_)).mkString.take(16)
      }
    }
    val spark = GraftSession.tierSized(cpus, sfDir)
    // JVM + codegen warmup on the smallest sf, so measured numbers are the
    // steady-state throughput a long-lived cluster session would see.
    def runQuery(name: String, dir: String): Unit =
      Bench.runQuery(spark, name, dir)
    benchSet.foreach { name =>
      try runQuery(name, "/root/testdata/sf0.001")
      catch { case _: Throwable => () }
    }
    // median-of-5: single-shot timings on a shared host are ±3x noisy
    // (GC + contention); the median is robust to a contended repeat in
    // either direction (best-of-N understates under systematic load)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "5").toInt
    // Load sentinel: a fixed tiny query interleaved with the basket.
    // Two rounds the committed artifact was contention-soaked and every
    // regression triage burned a round-trip; r10's start/mid/end
    // sentinel DETECTED the ramp but could not defend against it — the
    // five late-basket rows printed as uncertifiable 2.4-5.2× apparent
    // regressions. The artifact now defends itself: every query carries
    // the max of its two bracketing sentinel readings as a per-query
    // load stamp, and rows stamped above the certification threshold ×
    // the quietest sentinel observed anywhere in the run are
    // RE-MEASURED on additional passes (keeping whichever measurement
    // came from the quieter window) until the whole basket is certified
    // quiet or the pass budget is exhausted — only then does the
    // artifact print contended:true.
    //
    // The threshold is 1.25× (was 2× through r11). The r11 artifact
    // proved 2× too loose: its own end sentinel ran 2.9× the floor —
    // inside the old gate's tolerance — and four unchanged rows
    // committed +35-50% above the same-round recertified medians while
    // still stamping contended:false. 1.25× admits scheduler jitter
    // but rejects a real ramp; the pass budget rises to 6 (re-run
    // passes only repeat the uncertified rows, so extra passes are
    // cheap when the host is mostly quiet).
    // Each calibration point is the MEDIAN of three sentinel runs. The
    // queries are median-of-5, but through r13 the sentinel was a
    // single shot — on a ~0.1 s measurement one scheduling blip or GC
    // pause inflates a bracketing stamp 1.5×, failing the 1.25× gate
    // for a whole group while the query medians beside it are clean
    // (r14 diagnosis: stamps clustered 1.3–1.7× over a min-of-50 floor
    // with no corresponding movement in any query median). The median
    // measures sustained load — which is what the gate is for — and
    // keeps a real ramp visible: three consecutive readings only stay
    // high if the host is actually busy.
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        try SparkEntry.queries("q05_agg_global")(spark, "/root/testdata/sf0.001")
          .write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      Vector.fill(3)(once()).sorted.apply(1)
    }
    calibrate() // untimed: the sentinel must not measure its own codegen
    // corpus-level shared stages (e.g. the shingle index q41/q42 both
    // read): timed as their own entries; re-warmed (untimed) after each
    // cache-clear so per-query numbers measure the pass itself.
    // `stageFirst` records the FIRST invocation — for memoized stages
    // (BucketedOps.factPair writes once, then no-ops) that is the only
    // real cost, and min-over-repeats would log a ~1e-5 s no-op.
    // `stageMin` keeps min-over-repeats for re-warmed stages (shingle
    // index), where the first pass carries cold-JVM cost.
    val stageFirst = scala.collection.mutable.Map.empty[String, Double]
    val stageMin = scala.collection.mutable.Map.empty[String, Double]
    def measure(name: String): Vector[Double] = {
      val shared = SparkEntry.benchSharedStages.get(name)
      (1 to repeats).map { _ =>
        shared.foreach { case (stage, warm) =>
          val s0 = System.nanoTime()
          try warm(spark, sfDir)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $stage failed: ${e.getMessage}")
          }
          val dt = (System.nanoTime() - s0) / 1e9
          stageFirst.getOrElseUpdate(stage, dt)
          stageMin.updateWith(stage)(p => Some(p.fold(dt)(math.min(_, dt))))
        }
        val t0 = System.nanoTime()
        try runQuery(name, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        // drop per-invocation operator caches: a cache carried across
        // repeats would measure cache hits, not the operator
        finally spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.toVector.sorted
    }
    // chosen measurement + its load stamp per query; sentinel cadence 4
    val chosen = scala.collection.mutable.Map
      .empty[String, (Vector[Double], Double)]
    val allCals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "6").toInt
    val certify = sys.env.getOrElse("SPARK_GRAFT_BENCH_CERTIFY", "1.25").toDouble
    // ---- absolute quiet anchor (r17 verdict #1) ----
    // The per-query gate below compares stamps against THIS RUN's
    // quartile floor — a relative gate that cannot see a window where
    // the host is UNIFORMLY loaded for the whole run (r17: every
    // calibration point elevated ~1.2-1.7×, Q1 rose with them, the
    // 1.25× gate certified a smeared basket, and the same-session
    // quiet run disagreed by 24%). The anchor is the Q1 floor of the
    // last CERTIFIED-quiet run on this tier, persisted in
    // tools/floor_baseline.txt (keyed by tier dir — shuffle
    // partitioning and codec derive from the tier, so the sentinel's
    // quiet cost is tier-specific): stamps must ALSO sit within
    // windowTol of that absolute level. windowTol (1.5) is looser than
    // certify (1.25) because the anchor crosses JVM instances — r14-r17
    // quiet floors spread 0.09-0.125 s on identical code, so a
    // same-run gate that tight would reject genuinely idle hosts.
    val windowTol =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WINDOW", "1.5").toDouble
    // r19: keyed by dir AND tier_hash — a regenerated tier under the
    // same path must not inherit the old tier's quiet anchor (its
    // sentinel cost is tier-content-specific); and persisted in the
    // per-user state dir, not the repo tree, so a bench run does not
    // dirty the worktree (r18 verdict item 3), and not tmpdir, so the
    // anchor survives a reboot.
    val baselinePath = anchorPath
    val baselineKey = s"$sfDir@$tierHash"
    val baseFloor: Option[Double] = readAnchors(baselinePath).get(baselineKey)
    // The certification floor is the LOWER QUARTILE of all calibration
    // points, not the sample minimum. The min of N medians is a
    // biased-low order statistic that keeps tightening as passes add
    // points — a ratchet: more passes → lower floor → more rows stamped
    // loud → more passes. r14 measured it directly: with median-of-3
    // points the stamps sat flat at 0.11–0.13 (start/mid/end
    // 0.110/0.112/0.130 — a genuinely idle host) while the min-of-50
    // floor fell to 0.091, so the 1.25× gate compared typical-quiet
    // against luckiest-ever and could never certify. Q1 estimates the
    // quiet level consistently in N; the 1.25× certify ratio is
    // unchanged, and a real ramp still fails loudly (r11's bad artifact
    // had its end sentinel at 2.9× the min ≈ 2.6× the quartile). The
    // artifact records BOTH floor (Q1, what the gate uses) and
    // floor_min so the spread is visible.
    def quartileFloor: Double =
      if (allCals.isEmpty) Double.MaxValue
      else allCals.toVector.sorted.apply((allCals.size - 1) / 4)
    // a row certifies when its load stamp is quiet RELATIVE to this
    // run (certify × Q1) AND — when the tier has a recorded quiet
    // baseline — ABSOLUTELY (windowTol × baseline): a uniformly loaded
    // window elevates Q1 and the relative gate alone, which is exactly
    // how BENCH_r17 certified a contaminated basket
    def stampOk(stamp: Double, floor: Double): Boolean =
      stamp <= certify * floor &&
        baseFloor.forall(b => stamp <= windowTol * b)
    var pass = 0
    var calStart = 0.0; var calMid = 0.0; var calEnd = 0.0
    var quiet = false
    while (!quiet && pass < maxPasses) {
      pass += 1
      val floor = quartileFloor
      val toRun =
        if (pass == 1) benchSet
        else benchSet.filter(n => !stampOk(chosen(n)._2, floor))
      var prevCal = calibrate(); allCals += prevCal
      if (pass == 1) calStart = prevCal
      val mid = toRun.size / 2
      toRun.grouped(4).zipWithIndex.foreach { case (group, gi) =>
        if (pass == 1 && gi * 4 <= mid && mid < gi * 4 + group.size)
          calMid = prevCal
        val ms = group.map { n =>
          val r = n -> measure(n)
          // between queries (untimed): ContextCleaner only reclaims a
          // query's shuffle files after the driver GCs its stage
          // objects; without this the decade-tier basket accumulates
          // the whole session's dead shuffles and ENOSPCs (r11: 37 GB
          // of dead blockmgr files killed q42 at sf100 twice)
          System.gc()
          r
        }
        val nextCal = calibrate(); allCals += nextCal
        // a query's stamp is the LOUDER of its two bracketing sentinels
        // — a ramp that starts mid-group still taints the whole group
        val stamp = math.max(prevCal, nextCal)
        prevCal = nextCal
        ms.foreach { case (n, ts) =>
          if (!chosen.get(n).exists(_._2 <= stamp)) chosen(n) = (ts, stamp)
        }
      }
      if (pass == 1) calEnd = prevCal
      val fl = quartileFloor
      quiet = benchSet.forall(n => stampOk(chosen(n)._2, fl))
      if (!quiet && pass < maxPasses)
        System.err.println(s"[bench] pass $pass contended (floor=$fl, " +
          s"base=${baseFloor.getOrElse(-1.0)}, " +
          s"loud=${benchSet.count(n => !stampOk(chosen(n)._2, fl))}); " +
          "re-running")
    }
    val results = benchSet.map(n => n -> chosen(n)._1)
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + ts(ts.size / 2) }
      .mkString("{", ",", "}")
    // per-query [min, median, max] so host-noise variance is VISIBLE in
    // the artifact — a swung median (e.g. q42 r6: 1.06s committed vs
    // 1.94s driver-run of identical code) reads as spread, not regression
    val spreads = results.map { case (k, ts) =>
      "\"" + k + "\":[" + r3(ts.head) + "," + r3(ts(ts.size / 2)) + "," +
        r3(ts.last) + "]"
    }.mkString("{", ",", "}")
    val calFloor = quartileFloor
    val calFloorMin = allCals.min
    // first run on a tier (no baseline yet): the only absolute signal
    // is this run's own luckiest calibration point — reject when any
    // pass-1 bracket ran ≥1.5× over it. Calibrated on the r17 pair:
    // the contaminated driver window reads max-bracket/floor_min =
    // 0.162/0.105 = 1.54 (rejected), the same session's genuinely
    // quiet builder run 0.108/0.081 = 1.33 (accepted — a tighter 1.3
    // would reject quiet runs on JIT-warm start brackets alone, the
    // min-statistic ratchet r14 documented). With a baseline the
    // per-stamp windowTol gate above subsumes this.
    val bracketsOk = baseFloor.nonEmpty ||
      Seq(calStart, calMid, calEnd).max <= 1.5 * calFloorMin
    val contended = !quiet || !bracketsOk
    // persist the quiet anchor for future runs on this tier: Q1 of a
    // certified-quiet window, min-merged so the anchor only tightens
    // when a quieter certified run is observed. Subset runs
    // (SPARK_GRAFT_QUERIES experiments) never seed it — their shorter
    // warmup would anchor future gates on an under-warmed sentinel.
    if (!contended && wanted.isEmpty)
      try mergeAnchor(baselinePath, baselineKey, calFloor)
      catch { case e: Throwable =>
        System.err.println(s"[bench] baseline write failed: ${e.getMessage}")
      }
    // per-query load stamps: each row is certifiable on its own terms
    val calQ = benchSet.map(n => "\"" + n + "\":" + r3(chosen(n)._2))
      .mkString("{", ",", "}")
    val calibration =
      s"""{"start":${r3(calStart)},"mid":${r3(calMid)},"end":${r3(calEnd)},""" +
        s""""floor":${r3(calFloor)},"floor_min":${r3(calFloorMin)},""" +
        s""""floor_base":${baseFloor.map(r3).getOrElse(-1.0)},""" +
        s""""window":$windowTol,"passes":$pass,"certify":$certify,""" +
        s""""contended":$contended}"""
    val stages = stageFirst.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val stagesMin = stageMin.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map { case (_, ts) => ts(ts.size / 2) }.sum +
      stageFirst.values.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""spread":$spreads,"stages":$stages,"stages_min":$stagesMin,""" +
        s""""calibration":$calibration,"cal_per_query":$calQ,""" +
        s""""tier_hash":"$tierHash","tier_bytes":$tierBytes,""" +
        s""""sf":"$sfDir"}"""
    // the FULL artifact (spreads + stages) goes to the file; stdout gets
    // a COMPACT line — the driver tail-captures stdout with a bounded
    // buffer, and the r9 full line overran it (parsed:null). Rounded
    // medians keep the compact line well under the buffer.
    val qsCompact = results
      .map { case (k, ts) => "\"" + k + "\":" + r3(ts(ts.size / 2)) }
      .mkString("{", ",", "}")
    val compactLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
        s""""queries":$qsCompact,"calibration":$calibration,""" +
        s""""tier_hash":"$tierHash","tier_bytes":$tierBytes,""" +
        s""""sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // after spark.stop() so no shutdown logging trails it: final stdout line
    println(compactLine)
  }
}
