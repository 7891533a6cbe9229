package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}

/** The index surface: the metadata index registry (≈
  * duckherder_index_catalog_entry), persisted IVF / IVF-PQ ANN
  * indexes with incremental refresh, the durable shingle index for
  * incremental dedup, and `duckdb_indexes()` introspection. Split
  * from Engine.scala along its section seam; state and semantics
  * unchanged. */
private[graft] trait EngineIndexes { self: Engine =>

  // ---- index registry (metadata-only, ≈ duckherder_index_catalog_entry) --

  def createIndex(indexName: String, tableName: String, cols: Seq[String],
      ifNotExists: Boolean = false): Unit = {
    registry.getOrElse(tableName, missing(tableName))
    if (indexRegistry.contains(indexName)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(
        s"Catalog Error: Index with name \"$indexName\" already exists!")
    }
    indexRegistry.put(indexName, (tableName, cols))
  }

  def dropIndex(indexName: String, ifExists: Boolean = false): Unit = {
    if (indexRegistry.remove(indexName).isEmpty && !ifExists)
      throw new IllegalArgumentException(
        s"Catalog Error: Index with name \"$indexName\" does not exist!")
    invalidateTextCaches(indexName)
    invalidateAnnCaches(indexName)
    annMeta.remove(indexName); annPath.remove(indexName)
    textMeta.remove(indexName); textSeen.remove(indexName)
    tokenizerMeta.remove(indexName)
    classifierMeta.remove(indexName); servingIndexes.remove(indexName)
    shingleMeta.remove(indexName)
    indexTail.remove(indexName)
    ()
  }

  /** Conflict-target inference for `INSERT OR REPLACE / OR IGNORE`:
    * DuckDB resolves those shorthands through the table's unique
    * constraint; here the index registry plays that role — the
    * shorthand works iff the table has exactly ONE distinct indexed
    * column-set whose columns all exist in the schema. SERVING indexes
    * (text/ANN/shingle/tokenizer/classifier artifacts) are excluded by
    * tag, not by column-existence: a text index over a real `text`
    * column must neither become an upsert key nor veto a working
    * key-index inference (DuckDB infers only from UNIQUE constraints).
    * None ⇒ the router tells the user to spell ON CONFLICT (…)
    * explicitly. */
  private[graft] def soleIndexCols(table: String): Option[Seq[String]] = {
    val cols = registry.get(table).map(_.df.columns.toSet)
      .getOrElse(return None)
    val sets = indexRegistry.toSeq
      .collect { case (n, (t, c))
        if t == table && !servingIndexes.contains(n) && c.forall(cols) => c }
      .distinct
    sets match { case Seq(one) => Some(one); case _ => None }
  }

  /** Build a persisted IVF index over a table's embedding column:
    * sampled-k-means centroids and cell assignments land as managed
    * tables (`<index>_centroids`, `<index>_cells`), so the training
    * cost amortizes across every later [[annSearch]]. The index is
    * listed in `indexes` introspection like any other.
    *
    * With `pq = true` the index is IVF-PQ: residual product-quantizer
    * codebooks train per subspace (`<index>_codebooks`) and the cells
    * table carries (cell, norm, m code bytes) per vector INSTEAD of
    * raw floats — ~13× smaller, the memory bound that keeps a 100 TB
    * corpus's index resident. [[annSearch]] then scores candidates
    * from codes (ADC) and rescores its shortlist on raw floats fetched
    * from the BASE table, so reported similarities stay exact.
    *
    * The cells PERSIST to parquet at `path` (default: the process
    * index dir), RANGE-SORTED on `cell`, and the managed table is the
    * cold read-back — the [[buildTextIndex]] convention. Two reasons,
    * both scale: a probe re-planning the assignment/encode lineage
    * would re-encode the corpus per query (measured: the q189 sf10
    * dense probe paid ~2 s/query re-encoding 500 k vectors), and the
    * cell sort lets parquet row-group min/max statistics prune a
    * probe's `cell IN (…)` filter to the probed cells' groups —
    * per-query IO O(nprobe·N/nlist), not O(N). */
  def buildAnnIndex(indexName: String, tableName: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      pq: Boolean = false, path: String = null): Unit = {
    import graft.operators.SimilarityOps
    val p = Option(path).getOrElse(defaultIndexPath(indexName))
    val df = table(tableName)
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val n = df.count() // index build is a heavy op; an exact N is fine
    val cents = SimilarityOps.ivfCentroids(spark, df,
      SimilarityOps.ivfNlist(n))
    put(s"${indexName}_centroids", cents)
    val cells =
      if (pq) {
        val assigned = SimilarityOps.ivfAssign(df, cents)
        val books = SimilarityOps.pqTrain(spark, assigned, cents)
        put(s"${indexName}_codebooks", booksToDf(books))
        SimilarityOps.pqEncode(assigned, cents, books)
      } else SimilarityOps.ivfAssign(df, cents)
    cells.repartitionByRange(col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite")
      .option("parquet.block.size", 8L << 20) // finer cell-IN pruning
      .parquet(s"$p/cells")
    put(s"${indexName}_cells", spark.read.parquet(s"$p/cells"), n)
    annMeta.put(indexName, (idCol, embCol))
    annPath.put(indexName, p)
    createIndex(indexName, tableName, Seq(embCol), ifNotExists = true)
    servingIndexes.put(indexName, ())
    indexTail.put(indexName, (0L, n))
    invalidateAnnCaches(indexName)
    ()
  }

  /** (idCol, embCol) an ANN index was built with — needed by the PQ
    * search path's raw-float rescoring fetch against the base table.
    * private[graft]: EXPORT DATABASE carries it in the index manifest
    * so a restored engine refreshes against the right columns. */
  private[graft] val annMeta = TrieMap.empty[String, (String, String)]

  /** Parquet dir an ANN index's cells persisted to — refresh appends
    * there. Absent (pre-persistence artifact or unreachable restore
    * path) ⇒ refresh falls back to the in-catalog append. */
  private[graft] val annPath = TrieMap.empty[String, String]

  /** (path, idCol, textCol) a TEXT index was built with — the SQL
    * `REFRESH TEXT INDEX` route resolves the artifact path and columns
    * from the build (a custom-column index would otherwise be
    * re-tokenized on the wrong column into an empty default path). */
  private[graft] val textMeta = TrieMap.empty[String, (String, String, String)]

  /** Names of serving indexes (text/ANN/shingle/tokenizer/classifier).
    * [[soleIndexCols]] excludes them from conflict-target inference. */
  private[graft] val servingIndexes = TrieMap.empty[String, Unit]

  /** The base table an index was registered over, for the SQL refresh
    * spellings (`REFRESH TEXT/ANN INDEX name` — the user names only
    * the index; the registry remembers its table). */
  private[graft] def indexTable(indexName: String): String =
    indexRegistry.getOrElse(indexName,
      throw new IllegalArgumentException(
        s"""Catalog Error: Index with name "$indexName" does not """ +
          "exist!"))._1

  /** (idCol, embCol) for the SQL `REFRESH ANN INDEX` route — refresh
    * must encode against the columns the index was built with. */
  private[graft] def annIndexCols(indexName: String): (String, String) =
    annMeta.getOrElse(indexName, ("vec_id", "embedding"))

  /** (path, idCol, textCol) for the SQL `REFRESH TEXT INDEX` route.
    * Raises if the name is not a [[buildTextIndex]] artifact — a plain
    * metadata index has no postings to refresh. */
  private[graft] def textIndexMeta(indexName: String): (String, String, String) =
    textMeta.getOrElse(indexName, {
      if (!indexRegistry.contains(indexName))
        throw new IllegalArgumentException(
          s"""Catalog Error: Index with name "$indexName" does not """ +
            "exist!")
      throw new IllegalArgumentException(
        s"""Catalog Error: "$indexName" is not a TEXT index — build it """ +
          "with CREATE TEXT INDEX first")
    })

  /** Default durable-artifact path for SQL-spelled index builds (the
    * defaultMvPath convention): per-process temp dir locally; a
    * production deployment sets an explicit shared-storage path via
    * the programmatic API. */
  private[graft] def defaultIndexPath(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_idx_" +
      s"${ProcessHandle.current.pid}_$name"

  private def booksToDf(
      books: Array[Array[Array[Float]]]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cb, c) => (j, c, cb) }
    }.toSeq.toDF("subspace", "code", "cb")
  }

  /** Driver-side centroid/codebook caches: both are FROZEN under
    * refresh (the frozen-quantizer law), so a serving deployment keeps
    * them resident instead of re-collecting metadata-sized tables on
    * every probe (measured: 2 jobs per q189 dense probe). Invalidated
    * on build/refresh/OPTIMIZE/drop. */
  private val annCentsCache = TrieMap.empty[String, Array[Array[Float]]]
  private val annBooksCache =
    TrieMap.empty[String, Array[Array[Array[Float]]]]

  private[graft] def invalidateAnnCaches(indexName: String): Unit = {
    annCentsCache.remove(indexName); annBooksCache.remove(indexName); ()
  }

  /** The index's IVF centroids, indexed by cell id. */
  private[graft] def annCentroids(indexName: String): Array[Array[Float]] =
    annCentsCache.getOrElseUpdate(indexName, {
      import spark.implicits._
      table(s"${indexName}_centroids").as[(Long, Array[Float])]
        .collect().sortBy(_._1).map(_._2)
    })

  private def booksOf(indexName: String): Array[Array[Array[Float]]] =
    annBooksCache.getOrElseUpdate(indexName, {
      import spark.implicits._
      table(s"${indexName}_codebooks").as[(Int, Int, Array[Float])]
        .collect().groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    })

  /** Incremental refresh of a [[buildAnnIndex]] artifact after new
    * vectors arrived: only vectors absent from the cells table are
    * assigned (anti-join on vec_id), against the EXISTING centroids —
    * the assignment is the zero-exchange broadcast argmax, so the
    * marginal cost is O(batch) and the corpus is never re-assigned.
    * Frozen centroids make refresh ≡ a rebuild against the same
    * quantizer EXACTLY (EngineSpec law); what drifts under appends is
    * centroid QUALITY, not correctness — recall against the frozen
    * quantizer degrades only as far as the new data's distribution
    * departs from the training sample's, the standard IVF production
    * trade (re-train = [[buildAnnIndex]], the heavy op, on a cadence;
    * the returned count plus the cells introspection gives the
    * operator the growth signal to schedule it). Returns vectors
    * added. */
  def refreshAnnIndex(indexName: String, tableName: String,
      idCol: String = "vec_id", embCol: String = "embedding"): Long = {
    import graft.operators.SimilarityOps
    if (!indexRegistry.contains(indexName))
      throw new IllegalArgumentException(
        s"""Catalog Error: Index with name "$indexName" does not exist!""")
    // the index remembers its base table: refreshing against a
    // different one would silently merge foreign vectors into the
    // cells — fail loudly instead
    val recorded = indexRegistry(indexName)._1
    if (recorded != tableName)
      throw new IllegalArgumentException(
        s"""Binder Error: Index "$indexName" was built over table """ +
          s""""$recorded", not "$tableName"""")
    val cells = table(s"${indexName}_cells")
    val df = table(tableName)
      .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val newVecs =
      df.join(cells.select("vec_id"), Seq("vec_id"), "left_anti")
        .persist() // one anti-join pass feeds both the count and the
                   // assignment write
    try {
      val added = newVecs.count()
      if (added > 0) {
        val assigned = SimilarityOps.ivfAssign(newVecs,
          table(s"${indexName}_centroids"))
        // a PQ index refreshes by encoding against the FROZEN
        // codebooks — same frozen-quantizer law as the centroids
        val enc =
          if (registry.contains(s"${indexName}_codebooks"))
            SimilarityOps.pqEncode(assigned,
              table(s"${indexName}_centroids"), booksOf(indexName))
          else assigned
        annPath.get(indexName) match {
          case Some(p) =>
            // append the O(batch) encode to the persisted artifact;
            // appended row groups are batch-local (not cell-sorted), so
            // probe pruning degrades only by the un-compacted tail —
            // re-sorting the corpus per refresh would defeat O(batch).
            // The artifact must EXIST: appending into a missing dir
            // (an IMPORTed index whose path didn't travel) would mint
            // a batch-only artifact and silently drop the corpus
            requireArtifact(s"$p/cells", indexName, "ANN")
            enc.write.mode("append")
              .option("parquet.block.size", 8L << 20)
              .parquet(s"$p/cells")
            put(s"${indexName}_cells", spark.read.parquet(s"$p/cells"))
          case None => insertInto(s"${indexName}_cells", enc)
        }
        indexTail.put(indexName, indexTail.get(indexName)
          .map { case (tail, base) => (tail + added, base) }
          .getOrElse((added, 0L)))
      }
      added
    } finally { newVecs.unpersist(); () }
  }

  /** Re-sort a serving artifact back into pruning order after
    * refreshes: [[refreshAnnIndex]]/[[refreshTextIndex]] APPEND
    * batch-local row groups (O(batch) by design), which probe pruning
    * skips less and less well as the un-compacted tail grows. This is
    * the index analog of table OPTIMIZE — run on a maintenance
    * cadence, it restores the fresh-build layout exactly (row-identical
    * artifact, EngineSpec law). One artifact-sized pass. */
  def optimizeAnnIndex(indexName: String): Unit = withTableLock(indexName) {
    val p = annPath.getOrElse(indexName,
      throw new IllegalArgumentException(
        s"""Catalog Error: "$indexName" is not a persisted ANN index"""))
    requireArtifact(s"$p/cells", indexName, "ANN")
    resortParquet(spark.read.parquet(s"$p/cells"), s"$p/cells", Seq("cell"))
    put(s"${indexName}_cells", spark.read.parquet(s"$p/cells"))
    invalidateAnnCaches(indexName)
    indexTail.put(indexName, (0L,
      indexTail.get(indexName).map { case (t0, b) => t0 + b }
        .getOrElse(0L)))
    ()
  }

  /** [[optimizeAnnIndex]] for a text index: re-sorts the postings back
    * into (term, impact-bucket, doc_id) pruning order, recomputes the
    * probe metadata (termstats/impacts/stats) exactly from the
    * postings — which compacts the refresh partials to one row per
    * key, UPGRADES a pre-qi artifact and recovers a crashed refresh —
    * and clears the refresh-dirty marker.
    *
    * Reader isolation: OPTIMIZE is a maintenance verb. The swap is
    * crash-safe (the old artifact survives under one of two names at
    * every step), but a probe whose plan was bound before the swap can
    * transiently fail to list the replaced files; [[bm25Search]]
    * re-plans and retries once on that error, while callers holding a
    * raw frame over the artifact tables should quiesce probes around
    * OPTIMIZE or re-call after it. */
  def optimizeTextIndex(indexName: String): Unit =
      withTableLock(indexName) {
    val (p, _, _) = textIndexMeta(indexName)
    requireArtifact(s"$p/postings", indexName, "TEXT")
    val wasDirty = isDirty(p)
    val id = textIdType(indexName)
    // qi is a pure function of (tf, dl): recomputing it is the identity
    // on a current artifact and upgrades a pre-qi one
    resortParquet(textPart(p, "postings", id).withColumn("qi", qiCol),
      s"$p/postings", Seq("w", "qi", "doc_id"))
    // a crashed refresh can die between the postings append and the
    // doclens append — postings then carry batch docs doclens doesn't.
    // Recomputing termstats/impacts from the postings but leaving the
    // doclens stale would let the NEXT refresh's anti-join re-detect
    // the batch and append DUPLICATE (w, doc) postings rows (double
    // counted tf/df). Reconcile doclens against the postings before
    // clearing the marker: every postings doc gets its (one) dl; docs
    // with zero postings (possible only for null-text rows) keep their
    // existing doclens row.
    if (wasDirty) reconcileDoclens(p, id)
    writeTextMeta(p, id)
    clearDirty(p)
    registerTextIndex(indexName, p)
    invalidateTextCaches(indexName)
    indexTail.put(indexName, (0L,
      indexTail.get(indexName).map { case (t0, b) => t0 + b }
        .getOrElse(0L)))
    ()
  }

  /** Rebuild doclens from the postings' denormalized dl (exactly one
    * dl per doc — every posting of a doc carries the same value),
    * keeping any doclens-only docs (zero-posting null-text rows). Used
    * by [[optimizeTextIndex]] to repair a crashed refresh. */
  private def reconcileDoclens(path: String, id: DataType): Unit = {
    val fromPost = textPart(path, "postings", id)
      .groupBy("doc_id").agg(max("dl").as("dl"))
    val orphan = textPart(path, "doclens", id)
      .join(fromPost.select("doc_id"), Seq("doc_id"), "left_anti")
    writeSwapped(fromPost.unionByName(orphan), s"$path/doclens")
  }

  /** Rewrite `base`, a read of the artifact at `path`, back into
    * range-sorted pruning order. */
  private def resortParquet(base: DataFrame, path: String,
      sortCols: Seq[String]): Unit =
    writeSwapped(base
      .repartitionByRange(col(sortCols.head))
      .sortWithinPartitions(sortCols.map(col): _*), path)

  /** Write `df` to `path` crash-safely even when the plan READS from
    * `path`: materialize to a tmp dir first, then swap the old
    * artifact ASIDE before installing — a crash or failed rename
    * between steps never leaves the durable artifact missing (worst
    * case the old artifact survives under one of the two names). */
  private[graft] def writeSwapped(df: DataFrame, path: String): Unit = {
    val tmp = path + "_opt_tmp"
    // same 8 MB row groups as the build writers: OPTIMIZE must not
    // coarsen the pruning grain it exists to restore (no effect on
    // the sub-8 MB metadata files)
    df.write.mode("overwrite").option("parquet.block.size", 8L << 20)
      .parquet(tmp)
    val hp = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "_opt_old")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true)
    if (fs.exists(hp) && !fs.rename(hp, old))
      throw new java.io.IOException(s"could not move $hp aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hp)) {
      fs.rename(old, hp) // restore the original artifact
      throw new java.io.IOException(s"could not install $tmp")
    }
    fs.delete(old, true)
    ()
  }

  /** Build a DURABLE shingle index over a managed documents table:
    * materialize the df-capped distinct-shingle-hash stage to parquet
    * at `path` and register the COLD read-back as a managed table —
    * every consumer (the q145-shaped incremental dedup of a daily
    * batch) plans a fresh scan over storage, so index cost amortizes
    * across snapshots while the marginal batch stays O(batch).
    * Registry round-trip semantics follow
    * `duckherder_register_remote_table`
    * (src/client/duckherder_pragmas.cpp:16-60): the catalog entry
    * points at the persisted artifact, not a session cache. */
  def buildShingleIndex(indexName: String, docsTable: String,
      path: String, maxDf: Int = 1000): Unit = withTableLock(indexName) {
    val docs = table(docsTable)
    graft.operators.DedupOps.shingleTokens(docs, maxDf)
      .write.mode("overwrite").parquet(path)
    put(indexName, spark.read.parquet(path))
    createIndex(indexName, docsTable, Seq("text"), ifNotExists = true)
    servingIndexes.put(indexName, ())
    shingleMeta.put(indexName, (path, docsTable, maxDf))
    ()
  }

  /** (path, docsTable, maxDf) a shingle index was built with — the
    * same serving-index metadata the text/ANN indexes carry: the
    * no-arg [[refreshShingleIndex]] resolves build parameters from it,
    * refresh refuses mismatched parameters (a different path/column
    * set would corrupt the artifact), and EXPORT DATABASE ships it so
    * a restored engine refreshes the artifact COPY without being told
    * where it landed. */
  private[graft] val shingleMeta = TrieMap.empty[String, (String, String, Int)]

  /** Refresh a shingle index against the table/path/maxDf it was built
    * with (resolved from [[shingleMeta]]) — the spelling a restored
    * engine uses, where the artifact lives at the import's copy path
    * the caller never chose. */
  def refreshShingleIndex(indexName: String): Long = {
    val (p, dt, mdf) = shingleMeta.getOrElse(indexName, {
      if (!indexRegistry.contains(indexName))
        throw new IllegalArgumentException(
          s"""Catalog Error: Index with name "$indexName" does not """ +
            "exist!")
      throw new IllegalArgumentException(
        s"""Catalog Error: "$indexName" is not a shingle index — """ +
          "build it with buildShingleIndex first")
    })
    refreshShingleIndex(indexName, dt, p, mdf)
  }

  /** Incremental refresh of a [[buildShingleIndex]] artifact after new
    * documents arrived: ONLY the docs absent from the index are
    * shingled (anti-join on doc_id) — the existing corpus is never
    * re-shingled, so the daily-crawl marginal cost is O(batch). The
    * hot-shingle df-cap stays EXACT under refresh because document
    * frequency is monotone under appends: a shingle the old build
    * dropped (df already > maxDf) can only be hotter in the grown
    * corpus, so its absence is correct; a shingle the new batch pushes
    * over the cap is swept from the whole artifact (a parquet-level
    * filter rewrite on the rare refresh that needs it — still far
    * cheaper than re-shingling text). The refreshed artifact is
    * row-identical to a from-scratch build over the grown corpus
    * (EngineSpec law). The parquet swap invalidates time-travel
    * versions of the index table (their plans reference replaced
    * files) — the index is a derived artifact, rebuildable, not a
    * versioned source of truth. Returns newly indexed doc count. */
  def refreshShingleIndex(indexName: String, docsTable: String,
      path: String, maxDf: Int = 1000): Long = withTableLock(indexName) {
    // the index remembers its build parameters: refreshing a different
    // table/path/cap would silently merge foreign shingles or change
    // the cap semantics mid-artifact — fail loudly (the text/ANN
    // refresh contract)
    shingleMeta.get(indexName).foreach { case (p, dt, mdf) =>
      if (p != path || dt != docsTable || mdf != maxDf)
        throw new IllegalArgumentException(
          s"""Binder Error: Shingle index "$indexName" was built at """ +
            s""""$p" over table "$dt" with maxDf=$mdf — refresh must """ +
            "use the same path, table, and cap")
    }
    // appending into a missing artifact dir (an IMPORTed index whose
    // path didn't travel) would mint a batch-only artifact and
    // silently drop the corpus — refuse with the serving-index error,
    // not a raw Spark PATH_NOT_FOUND
    requireArtifact(path, indexName, "SHINGLE")
    val docs = table(docsTable)
    val known = table(indexName).select("doc_id").distinct()
    val newDocs = docs.join(known, Seq("doc_id"), "left_anti")
    val added = newDocs.count()
    if (added > 0) {
      // cap NOT applied batch-locally — it is re-derived over the
      // combined corpus below, where it is exact
      val newSh = graft.operators.DedupOps.shingleTokens(newDocs,
        maxDf = Int.MaxValue)
      val old = spark.read.parquet(path)
      val combined = old.unionByName(newSh)
      val hotDelta = shingleHotDelta(combined, newSh, maxDf)
      if (hotDelta.isEmpty) {
        newSh.write.mode("append").parquet(path)
      } else {
        // the using-column join fronts `s` — restore the (doc_id, s)
        // artifact schema before writing
        writeSwapped(combined.join(hotDelta, Seq("s"), "left_anti")
          .select("doc_id", "s"), path)
      }
      put(indexName, spark.read.parquet(path))
    }
    added
  }

  /** Shingles the refresh batch pushes over the df cap. df is monotone
    * under appends, so only shingles the BATCH touches can newly cross
    * — the check semi-joins the combined corpus to the batch's shingle
    * set BEFORE aggregating: shuffle/aggregation state is
    * O(batch-touched occurrences), never O(corpus vocabulary), which
    * is what keeps a daily refresh O(batch) on a 100 TB corpus (the
    * columnar single-column corpus scan remains, like every anti-join
    * here; it carries no aggregation state). PlanQualitySpec pins the
    * semi-join-below-aggregate shape. */
  private[graft] def shingleHotDelta(combined: DataFrame,
      newSh: DataFrame, maxDf: Int): DataFrame =
    combined
      .join(newSh.select("s").distinct(), Seq("s"), "left_semi")
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")

  /** Build a DURABLE BM25 inverted index over a managed documents
    * table, persisted to parquet at `path` and registered as managed
    * tables (the [[buildShingleIndex]] convention — catalog entries
    * point at the artifact, a consumer plans a cold scan):
    *
    *  - `<idx>_postings` (w, doc_id, tf, dl): one row per distinct
    *    (term, doc); dl DENORMALIZED into the posting so a probe never
    *    joins a corpus-sized doc-length table. Written RANGE-SORTED on
    *    `w`, so parquet row-group min/max statistics prune a per-query
    *    term filter to the touched groups — per-query lexical cost is
    *    O(Σ df(term)), not O(corpus).
    *  - `<idx>_doclens` (doc_id, dl): the indexed doc set a refresh
    *    anti-joins against, and the live stats source while a crashed
    *    refresh awaits OPTIMIZE.
    *  - `<idx>_stats` (n, avgdl): the 1-row corpus frame every scoring
    *    probe broadcasts, folded from the persisted stats partials (Σdl
    *    is exact integer arithmetic and avgdl that sum in ONE IEEE
    *    division, so refresh ≡ rebuild stays bit-exact).
    *
    * Per-term document frequency is NOT stored — it derives exactly
    * from the probed postings slice (count per term), so appends can
    * never serve a stale df. */
  def buildTextIndex(indexName: String, docsTable: String, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
      withTableLock(indexName) {
    val seen = registry.getOrElse(docsTable, missing(docsTable))
    val docs = seen.df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    writePostingsAndDoclens(textPostings(docs), docs, path, append = false)
    clearDirty(path)
    writeTextMeta(path, docs.schema("doc_id").dataType)
    createIndex(indexName, docsTable, Seq(textCol), ifNotExists = true)
    textMeta.put(indexName, (path, idCol, textCol))
    textSeen.put(indexName, (docsTable, seen))
    registerTextIndex(indexName, path)
    servingIndexes.put(indexName, ())
    invalidateTextCaches(indexName)
    indexTail.put(indexName, (0L, statsOf(indexName).map(_._1).getOrElse(0L)))
    ()
  }

  /** The docs table and its version a text index last indexed: a
    * refresh reads only the rows appended since ([[appendedSince]]). */
  private[graft] val textSeen = TrieMap.empty[String, (String, TableEntry)]

  /** Incremental refresh after new documents arrived: only docs absent
    * from the doclens table are tokenized and appended (O(batch)
    * marginal cost, the corpus is never re-exploded). The batch is the
    * rows appended to the docs table since the index last saw it
    * ([[appendedSince]]), anti-joined on doc_id against doclens (the
    * whole table for an index restored without that version, or when
    * the docs come from another table than it last indexed). The
    * batch's metadata partials (termstats, impacts, stats) are APPENDED
    * beside its postings, so no existing artifact file is read or
    * rewritten; readers fold the partials with exact-integer
    * sum/max/min, which is bit-exact vs a from-scratch build, and a
    * cached corpus total takes the batch's stats partial. Returns newly
    * indexed docs. A row-rewriting write on the docs table since the
    * index last saw it (UPDATE, DELETE, MERGE, ALTER) breaks the chain:
    * an anti-join would keep serving the old postings of changed and
    * deleted documents, so the refresh rebuilds through
    * [[buildTextIndex]] and returns the rebuilt index's document count. */
  def refreshTextIndex(indexName: String, docsTable: String, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Long =
      withTableLock(indexName) {
    // the index remembers its artifact path and columns: refreshing a
    // different column into the postings, or appending to a foreign
    // path, would silently corrupt the served index — fail loudly
    textMeta.get(indexName).foreach { case (p, i, t) =>
      if (p != path || i != idCol || t != textCol)
        throw new IllegalArgumentException(
          s"""Binder Error: Text index "$indexName" was built at """ +
            s""""$p" over ($i, $t) — refresh must use the same path """ +
            "and columns")
    }
    // appending into a missing artifact dir (an IMPORTed index whose
    // path is unreachable on this host) would re-register the postings
    // over the batch alone and silently drop the corpus — refuse
    requireArtifact(s"$path/postings", indexName, "TEXT")
    if (isDirty(path))
      throw new IllegalStateException(
        s"""IO Error: a previous refresh of text index "$indexName" """ +
          "did not complete — run OPTIMIZE TEXT INDEX " +
          s"$indexName to repair the artifact before refreshing again")
    val current = registry.getOrElse(docsTable, missing(docsTable))
    val seen = textSeen.get(indexName).collect {
      case (t, e) if t == docsTable => e }
    val appended = seen.flatMap(appendedSince(_, current))
    if (appended.contains(Nil)) return 0L
    // a row-rewriting write since the index last saw this table broke
    // the append chain: indexed documents may have changed or gone,
    // which a doc_id anti-join cannot see — rebuild from the table
    if (seen.isDefined && appended.isEmpty) {
      buildTextIndex(indexName, docsTable, path, idCol, textCol)
      return statsOf(indexName).map(_._1).getOrElse(0L)
    }
    val rows = appended.fold(current.df)(_.reduce(_ unionByName _))
    val docs = rows.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val known = table(s"${indexName}_doclens").select("doc_id")
    // persist before the first action: it IS the cache materialization,
    // so the anti-join runs once per refresh, not twice. That action is
    // the batch's corpus-stats aggregate: the count and the stats
    // partial in one job
    val batch = docs.join(known, Seq("doc_id"), "left_anti").persist()
    val withMeta = artifactExists(s"$path/termstats")
    // the corpus stats as they stand before this batch lands
    val prior = textStatsCache.get(indexName)
    try {
      val stats = corpusStats(dlOf(batch)).head()
      val added = stats.getLong(0)
      if (added > 0) {
        // tokenize the batch ONCE: the persisted postings frame feeds
        // the postings append and the metadata partials
        val bp = textPostings(batch).persist()
        try {
          // the marker bounds the append window: a crash inside leaves
          // probes on the classic live-stats path (correct), never on
          // partial metadata; OPTIMIZE recomputes from the postings and
          // clears it. An artifact without metadata (the pre-qi layout)
          // gets none until OPTIMIZE writes it.
          setDirty(path)
          val partials =
            if (!withMeta) Nil
            else textMetaOf(bp) :+ ("stats" -> spark.createDataFrame(
              java.util.List.of(stats), textPartSchema("stats", LongType)))
          writePostingsAndDoclens(bp, batch, path, append = true, partials)
          clearDirty(path)
        } finally { bp.unpersist(); () }
        registerTextIndex(indexName, path)
        invalidateTextCaches(indexName)
        // the appended stats partial is exact: fold it into a cached
        // total instead of re-reading every partial on the next probe
        if (withMeta) prior.foreach { case (n0, sum0) =>
          textStatsCache.put(indexName, (n0 + added,
            sum0 + (if (stats.isNullAt(1)) 0L else stats.getLong(1))))
        }
        indexTail.put(indexName, indexTail.get(indexName)
          .map { case (tail, base) => (tail + added, base) }
          .getOrElse((added, 0L)))
      }
      textSeen.put(indexName, (docsTable, current))
      added
    } finally { batch.unpersist(); () }
  }

  /** The persisted artifact a refresh appends to must exist — a
    * restore whose artifact path didn't travel must rebuild, not
    * silently serve the refresh batch alone. */
  private def requireArtifact(path: String, indexName: String,
      kind: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp))
      throw new IllegalArgumentException(
        s"""IO Error: $kind index "$indexName" artifact at "$path" is """ +
          "unreachable from this engine — rebuild the index " +
          s"(CREATE ${kind} INDEX) instead of refreshing")
  }

  /** Impact-bucket quantization for postings. `qi = ⌊log2(dl/tf)·8⌋`
    * clamped to [0, 63] — small qi = high per-term impact. The bucket
    * key is PARAMETER-FREE and refresh-stable (it depends only on the
    * posting's own tf/dl, never on corpus stats), yet admits an exact
    * score upper bound at probe time for ANY (k1, b, avgdl): within
    * bucket c every posting has v = dl/tf ≥ 2^(c/8), and the BM25
    * term score tf(k1+1)/(tf + (1−b)k1 + b·k1·dl/avgdl) =
    * (k1+1)/(1 + (1−b)k1/tf + b·k1·v/avgdl) ≤ (k1+1)/(1 + b·k1·v/avgdl)
    * — monotone decreasing in v, so the bucket's lower edge bounds the
    * whole bucket. [[fastBm25]]'s early-termination cut rests on this. */
  private[graft] val QiScale = 8
  private[graft] val QiMax = 63

  private def qiCol: org.apache.spark.sql.Column =
    least(lit(QiMax), greatest(lit(0),
      floor(log(2.0, col("dl").cast("double") / col("tf")) * QiScale)))
      .cast("int")

  /** The (w, doc_id, tf, dl, qi) postings frame for a docs batch —
    * shared by build and refresh so appended rows carry the same
    * impact buckets as built ones. */
  private def textPostings(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), dlCol,
      explode(split(col("text"), " ")).as("w"))
    // Range-exchange BEFORE the aggregation, not after it: range
    // partitioning on `w` satisfies the (w, doc_id) clustering the
    // aggregate needs (w ⊆ grouping keys), so ONE exchange serves both
    // the groupBy and the artifact's range layout — the old
    // agg-then-repartitionByRange shape paid the exchange twice AND
    // re-ran the whole tokenize+aggregate lineage inside the range
    // sampler's separate job (the sampler now samples the narrow
    // explode, no shuffle). sf0.1 postings write 1.31 → 0.93 s.
    toks.repartitionByRange(col("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"),
        first(col("dl")).as("dl"))
      .withColumn("qi", qiCol)
  }

  /** A document's length in tokens: the `dl` of its postings and its
    * doclens row. */
  private def dlCol: org.apache.spark.sql.Column =
    graft.functions.TokenCount.tokenCount(col("text")).cast("long").as("dl")

  private def dlOf(docs: DataFrame): DataFrame = docs.select(dlCol)

  /** The schema of each part of a text-index artifact, as its writers
    * below produce it; `id` is the docs table's id column type. Every
    * read of an artifact part goes through [[textPart]] with it, so no
    * read infers a schema (one Spark job per read). */
  private def textPartSchema(part: String, id: DataType): StructType = {
    def f(n: String, t: DataType) = StructField(n, t)
    StructType(part match {
      case "postings" => Seq(f("w", StringType), f("doc_id", id),
        f("tf", LongType), f("dl", LongType), f("qi", IntegerType))
      case "doclens" => Seq(f("doc_id", id), f("dl", LongType))
      case "termstats" => Seq(f("w", StringType), f("df", LongType),
        f("max_tf", LongType), f("min_dl", LongType))
      case "impacts" => Seq(f("w", StringType), f("qi", IntegerType),
        f("cnt", LongType))
      case "stats" => Seq(f("n", LongType), f("sumdl", LongType))
    })
  }

  /** One part of the text-index artifact at `path`, read with its
    * [[textPartSchema]]; the metadata parts carry no doc id. */
  private def textPart(path: String, part: String,
      id: DataType = LongType): DataFrame =
    spark.read.schema(textPartSchema(part, id)).parquet(s"$path/$part")

  /** The docs id column type of text index `indexName`. */
  private def textIdType(indexName: String): DataType = {
    val (_, idCol, _) = textIndexMeta(indexName)
    table(indexTable(indexName)).select(col(idCol)).schema.head.dataType
  }

  /** One pipeline for builds and refreshes, so tokenization can never
    * diverge between them. Range-sort on the term so row-group stats
    * prune term probes, qi second so an impact-cut probe prunes a
    * term's own suffix, doc_id third so a shortlist fetch prunes within
    * (term, bucket); 32 partitions on the small tiers, data-proportional
    * via AQE. `partials` are a refresh's metadata partials, appended to
    * the artifact parts they name. */
  private def writePostingsAndDoclens(post: DataFrame, docs: DataFrame,
      path: String, append: Boolean,
      partials: Seq[(String, DataFrame)] = Nil): Unit = {
    val mode = if (append) "append" else "overwrite"
    val writePostings = () => {
      // [[textPostings]] already range-partitioned on w — only the
      // within-partition sort remains before the write
      post.sortWithinPartitions("w", "qi", "doc_id")
        .write.mode(mode)
        // 8 MB row groups (vs the 128 MB default): the probes' (w, qi)
        // min/max pruning works at row-group grain, and a sf100 term
        // slice spans only a couple of default-sized groups — finer
        // groups cut the sf100 probe 2.37 → 1.95 s (Bm25Probe A/B) for
        // ~2% artifact-size cost
        .option("parquet.block.size", 8L << 20)
        .parquet(s"$path/postings")
    }
    val writeDoclens = () => {
      docs.select(col("doc_id"), dlCol).write.mode(mode)
        .parquet(s"$path/doclens")
    }
    // A fresh build overlaps the two independent writes (different
    // output dirs; a failed build registers nothing). A REFRESH appends
    // the postings first: that write materializes the persisted batch
    // postings, so the metadata partials planned after it see their
    // range partitioning and aggregate without an exchange of their own.
    // The partials then append together (different output dirs; the
    // dirty marker covers a crash in any of them, and OPTIMIZE
    // recomputes the metadata from the postings). Doclens goes LAST:
    // the recovery (reconcileDoclens) assumes the postings doc set is
    // always a superset of the appended doclens docs — a doclens append
    // that landed before a crashed postings append would hide the batch
    // from the next refresh's anti-join, and it would never re-append.
    // sf0.1 A/B (StagesProbe2): build 1.47 → 1.31 s.
    if (append) {
      writePostings()
      graft.operators.NamedQuery.inParallel(partials.map { case (part, df) =>
        () => df.write.mode("append").parquet(s"$path/$part") }: _*)
      writeDoclens()
    } else graft.operators.NamedQuery.inParallel(writePostings, writeDoclens)
  }

  /** Probe-serving metadata, persisted beside the postings so a probe
    * never runs corpus-sized jobs for it (VERDICT r16 #1), as (part,
    * frame) over postings `post` (and [[corpusStats]] for `stats`):
    *  - `termstats` (w, df, max_tf, min_dl): exact per-term document
    *    frequency (deletes the probe's groupBy-df job) and the
    *    monotone bound inputs for the term's maximum possible score.
    *  - `impacts` (w, qi, cnt): per-(term, impact-bucket) posting
    *    counts — the histogram [[fastBm25]] cuts prefixes from.
    *  - `stats` (n, sumdl): exact-integer corpus stats; avgdl is ONE
    *    IEEE division of them, bit-equal to avg(dl) over doclens
    *    (every partial sum of longs < 2^53 is exact in a double).
    * A build writes them over the whole artifact; a refresh appends
    * them over its batch as PARTIALS, which every reader folds
    * ([[foldedTermstats]], [[statsOf]], [[termStatsOf]],
    * [[termHistsOf]]) with
    * exact-integer sum/max/min — associative, so the fold is bit-equal
    * to a from-scratch compute. All three are derivable from the
    * postings, so a crashed refresh recovers via OPTIMIZE (full
    * recompute, which also compacts the partials to one row per key). */
  private def textMetaOf(post: DataFrame): Seq[(String, DataFrame)] = Seq(
    "termstats" -> post.groupBy("w").agg(count(lit(1)).as("df"),
      max("tf").as("max_tf"), min("dl").as("min_dl"))
      .sortWithinPartitions("w"),
    "impacts" -> post.groupBy("w", "qi").agg(count(lit(1)).as("cnt"))
      .sortWithinPartitions("w", "qi"))

  /** The one-row `stats` (n, Σdl) of document lengths `lens`. */
  private def corpusStats(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))

  /** Full recompute of the metadata from the written postings/doclens
    * (build and OPTIMIZE): three independent aggregate+swap writes,
    * overlapped (guide §2.6): disjoint output dirs, and a crash mid-way
    * leaves the same partially-swapped metadata a sequential crash
    * would — OPTIMIZE recomputes all three and the dirty marker (set by
    * the callers that need it) keeps probes on the classic live-stats
    * path. sf0.1: 1.10 s sequential → ~0.5 s. */
  private def writeTextMeta(path: String, id: DataType): Unit =
    graft.operators.NamedQuery.inParallel((textMetaOf(
        textPart(path, "postings", id).repartitionByRange(col("w"))) :+
      ("stats" -> corpusStats(textPart(path, "doclens", id)).coalesce(1)))
      .map { case (part, df) => () => writeSwapped(df, s"$path/$part") }: _*)

  private[graft] def hadoopFs(path: String) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  private[graft] def artifactExists(path: String): Boolean = {
    val (fs, hp) = hadoopFs(path); fs.exists(hp)
  }

  /** A refresh appends postings, metadata partials and doclens; the
    * marker bounds the window where a crash leaves them inconsistent.
    * While it exists, probes take the classic live-stats path (always
    * correct) and [[fastBm25]] declines; OPTIMIZE recomputes the
    * metadata from the postings and clears it. */
  private def dirtyMarker(path: String) = s"$path/REFRESH_DIRTY"

  private def setDirty(path: String): Unit = {
    val (fs, hp) = hadoopFs(dirtyMarker(path)); fs.create(hp, true).close()
  }
  private def clearDirty(path: String): Unit = {
    val (fs, hp) = hadoopFs(dirtyMarker(path)); fs.delete(hp, false); ()
  }
  private[graft] def isDirty(path: String): Boolean =
    artifactExists(dirtyMarker(path))

  private[graft] def registerTextIndex(indexName: String, path: String): Unit = {
    val id = textIdType(indexName)
    put(s"${indexName}_postings", textPart(path, "postings", id))
    put(s"${indexName}_doclens", textPart(path, "doclens", id))
    // corpus stats serve from the persisted stats partials when the
    // artifact carries them (and is clean): n and Σdl are exact longs,
    // avgdl their single IEEE division — value-equal to avg(dl) over
    // doclens, without the per-probe corpus-sized doclens job
    if (artifactExists(s"$path/stats") && !isDirty(path)) {
      put(s"${indexName}_stats", foldedStats(path)
        .select(col("n"), (col("sumdl") / col("n")).as("avgdl")))
      put(s"${indexName}_termstats", foldedTermstats(path))
    } else {
      put(s"${indexName}_stats", textPart(path, "doclens", id)
        .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")))
      unregisterTable(s"${indexName}_termstats")
    }
  }

  /** The artifact's metadata with its refresh partials folded to one
    * row per key: the exact-integer sum/max/min a from-scratch
    * [[textMetaOf]] computes. */
  private[graft] def foldedTermstats(path: String): DataFrame =
    textPart(path, "termstats").groupBy("w").agg(sum("df").as("df"),
      max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))

  private[graft] def foldedStats(path: String): DataFrame =
    textPart(path, "stats").agg(sum("n").as("n"), sum("sumdl").as("sumdl"))

  /** Probe a [[buildTextIndex]] artifact: BM25 top-k for `terms`
    * (Robertson k1/b defaults, the q165 formulation). The postings scan
    * touches only row groups whose `w` range covers a query term; df
    * per term derives from the probed slice; corpus stats broadcast
    * from the 1-row frame. Determinism matches q165 exactly: at most
    * ONE posting exists per (term, doc), so the per-term partial sums
    * below are single values and the final score is the same
    * fixed-term-order addition of identical IEEE doubles — the served
    * top-k is EXACTLY the full-pass top-k. When fewer than k docs match
    * any term, the result pads with zero-score docs in doc_id order,
    * like the full pass (which scores the whole corpus); the pad's
    * corpus-sized doclens scan runs ONLY on that small/filtered-corpus
    * branch — the common ≥k-matches probe stays O(Σ df(term)). */
  def bm25Search(indexName: String, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 probe needs at least one term")
    val t0 = System.nanoTime()
    val res =
      try bm25SearchImpl(indexName, terms, k, k1, b)
      catch {
        // a probe racing OPTIMIZE's artifact swap can transiently fail
        // to list the replaced files — OPTIMIZE re-registered the
        // artifact tables, so re-planning once lands on the installed
        // layout
        case e: Throwable if isFileGone(e) =>
          bm25SearchImpl(indexName, terms, k, k1, b)
      }
    recordProbe(indexName, "bm25_search",
      s"terms=${terms.mkString(",")} k=$k", res._3,
      (System.nanoTime() - t0) / 1000000L, res._2)
    res._1
  }

  private def isFileGone(e: Throwable): Boolean = {
    var cur = e; var depth = 0
    while (cur != null && depth < 10) {
      if (cur.isInstanceOf[java.io.FileNotFoundException]) return true
      cur = cur.getCause; depth += 1
    }
    false
  }

  /** (result, row count, plan path taken) — the path tag feeds the
    * probe-stats surface so an operator can SEE which plan served
    * ("cut" / "one_job" / "classic", "+pad" when the zero-score pad
    * ran, "empty" for k ≤ 0). */
  private def bm25SearchImpl(indexName: String, terms: Seq[String],
      k: Int, k1: Double, b: Double): (DataFrame, Long, String) = {
    if (k <= 0) // LIMIT 0 semantics, not a last-row crash
      return (spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        bm25Matched(indexName, terms, k1, b).schema), 0L, "empty")
    fastBm25(indexName, terms, k, k1, b) match {
      case Some(res) => return (res, k.toLong, "cut")
      case None => ()
    }
    // metadata-bearing artifact but the early-termination path declined
    // (un-certifiable cut, duplicate terms, pad semantics): serve the
    // ONE-JOB plan — same pivot, df/n/avgdl as literals off the
    // persisted metadata instead of two extra aggregation jobs
    val lit0 = litMatched(indexName, terms, k1, b)
    val pathTag = if (lit0.isDefined) "one_job" else "classic"
    val matched = lit0.getOrElse(bm25Matched(indexName, terms, k1, b))
    val top = matched.orderBy(col("bm25").desc, col("doc_id")).limit(k)
    // ONE probe execution decides the result: k rows whose k-th score
    // is positive cannot be displaced by any zero-score doc, so the
    // common case returns them as a local frame (nothing re-executes
    // when the caller consumes it). Fewer than k matches — or a k-th
    // score that ROUNDS to 0.0, where an unmatched lower-doc_id doc
    // ties and outranks it — falls to the pad plan, whose corpus-sized
    // doclens scan runs only on that small/filtered-corpus branch.
    val topRows = top.collect()
    if (topRows.length == k && topRows.last.getDouble(1) > 0.0)
      (localFrame(topRows, top.schema), topRows.length.toLong, pathTag)
    else {
      val pad = table(s"${indexName}_doclens").select(col("doc_id"))
        .join(matched.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(0.0).as("bm25"))
        .orderBy(col("doc_id")).limit(k)
      val padded = matched.unionByName(pad)
        .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      // collected like the fast branch: both paths return a stable
      // snapshot, so a caller holding the frame across a refresh never
      // re-executes a moved plan
      val padRows = padded.collect()
      (localFrame(padRows, padded.schema), padRows.length.toLong,
        pathTag + "+pad")
    }
  }

  /** Collected rows as a frame over a local relation: reading it back
    * starts no job. */
  private def localFrame(rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The lazy matched-docs scoring plan behind [[bm25Search]] — the
    * per-(term,doc) postings probe pivoted to one fixed-term-order
    * score per matching doc. Split out so plan laws can pin the
    * In(w,…) pushdown on the probe's scan (PlanQualitySpec). */
  private[graft] def bm25Matched(indexName: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 probe needs at least one term")
    val post = table(s"${indexName}_postings")
      .filter(col("w").isin(terms: _*))
    val dfs = post.groupBy("w").agg(count(lit(1)).as("df"))
    val stats = textStatsFrame(indexName)
    val scored = post.join(broadcast(dfs), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("s", bm25ScoreCol(k1, b))
    bm25Pivot(scored, terms)
  }

  /** The per-posting BM25 addend over columns (tf, dl, df, n, avgdl) —
    * ONE expression shape shared by the classic plan and [[fastBm25]]'s
    * candidate rescore, so both produce bit-identical doubles from the
    * same inputs. */
  private def bm25ScoreCol(k1: Double, b: Double): org.apache.spark.sql.Column =
    log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
      col("tf") * (k1 + 1) /
      (col("tf") +
        (lit(1 - b) + lit(b) * col("dl") / col("avgdl")) * lit(k1))

  /** Pivot per-(term,doc) addends to one score per doc, added in FIXED
    * term order — the q165 oracle's summation-order contract (a
    * groupBy float sum would reintroduce order drift). */
  private def bm25Pivot(scored: DataFrame, terms: Seq[String]): DataFrame = {
    val perTerm = scored.groupBy("doc_id").agg(
      sum(when(col("w") === terms.head, col("s"))).as("s0"),
      terms.zipWithIndex.drop(1).map { case (t0, i) =>
        sum(when(col("w") === t0, col("s"))).as(s"s$i") }: _*)
    val total = terms.indices.map(i =>
      coalesce(col(s"s$i"), lit(0.0))).reduce(_ + _)
    perTerm.select(col("doc_id"), round(total, 4).as("bm25"))
  }

  /** The classic matched-docs plan with df/n/avgdl as LITERALS from
    * the persisted metadata — value-identical scores to
    * [[bm25Matched]] (df/n are the same exact integers; avgdl the same
    * single IEEE division), in ONE job instead of three: no df
    * aggregation, no corpus-stats aggregation, just the pruned
    * postings scan into the pivot. None when the artifact carries no
    * (clean) metadata — the pre-r17 artifact shape. */
  private[graft] def litMatched(indexName: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Option[DataFrame] = {
    val path = textMeta.get(indexName).map(_._1).getOrElse(return None)
    if (isDirty(path) || !artifactExists(s"$path/termstats")) return None
    val (n, sumdl) = statsOf(indexName).getOrElse(return None)
    if (n == 0L) return None
    val avgdl = sumdl.toDouble / n
    val metas = termStatsOf(indexName, path, terms)
    val present = terms.distinct.filter(t => metas.get(t).exists(_.isDefined))
    if (present.isEmpty) return None // empty slice: classic is as cheap
    val dfByW = present.tail.foldLeft(when(col("w") === present.head,
      lit(metas(present.head).get.df))) { (acc, t) =>
      acc.when(col("w") === t, lit(metas(t).get.df)) }
    val scored = table(s"${indexName}_postings")
      .filter(col("w").isin(terms.distinct: _*))
      .withColumn("df", dfByW)
      .withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl))
      .withColumn("s", bm25ScoreCol(k1, b))
    Some(bm25Pivot(scored, terms))
  }

  /** Corpus stats for the classic scoring plan. While a crashed
    * refresh's dirty marker is up, the persisted stats file trails the
    * appended postings — recompute live from doclens until OPTIMIZE
    * repairs the artifact. */
  private def textStatsFrame(indexName: String): DataFrame =
    textMeta.get(indexName) match {
      case Some((p, _, _)) if isDirty(p) =>
        table(s"${indexName}_doclens")
          .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      case _ => table(s"${indexName}_stats")
    }

  // ---- BM25 fast probe: persisted metadata + impact-ordered cut ---------

  /** A term's folded `termstats` row. */
  private[graft] case class TermStat(df: Long, maxTf: Long, minDl: Long)

  /** Per-(index, term) metadata and per-index corpus stats, collected
    * once from the metadata artifacts and cached — index metadata, not
    * query results, so a serving deployment would cache it the same
    * way. Invalidated on build/refresh/OPTIMIZE/drop; a refresh then
    * folds its batch's exact stats partial into a cached corpus total. */
  private val textTermCache = TrieMap.empty[(String, String), Option[TermStat]]
  private val textHistCache = TrieMap.empty[(String, String), Array[(Int, Long)]]
  private val textStatsCache = TrieMap.empty[String, (Long, Long)]
  private val textFracCache = TrieMap.empty[String, Double]
  /** [[textFracCache]] value for a term set no cut depth certifies. */
  private val Bm25Declines = -1.0

  private[graft] def invalidateTextCaches(indexName: String): Unit = {
    textStatsCache.remove(indexName)
    textTermCache.keySet.filter(_._1 == indexName)
      .foreach(textTermCache.remove)
    textHistCache.keySet.filter(_._1 == indexName)
      .foreach(textHistCache.remove)
    textFracCache.keySet.filter(_.startsWith(indexName + "|"))
      .foreach(textFracCache.remove)
  }

  /** (n, Σdl) summed over the persisted stats partials — exact longs.
    * None for legacy artifacts, dirty artifacts, or a non-text index. */
  private[graft] def statsOf(indexName: String): Option[(Long, Long)] =
    textStatsCache.get(indexName).orElse {
      textMeta.get(indexName).flatMap { case (p, _, _) =>
        if (!artifactExists(s"$p/stats") || isDirty(p)) None
        else {
          val rows = textPart(p, "stats").collect()
          Option.when(rows.nonEmpty) {
            val v = (rows.map(_.getLong(0)).sum,
              rows.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum)
            textStatsCache.put(indexName, v)
            v
          }
        }
      }
    }

  /** Each term's folded `termstats` (None for a term the index lacks):
    * one row-group-pruned lookup over the vocab-sized artifact
    * (term-sorted per partial), collected and folded driver-side, for
    * the terms not cached yet. */
  private[graft] def termStatsOf(indexName: String, path: String,
      terms: Seq[String]): Map[String, Option[TermStat]] = {
    val missing = terms.distinct
      .filterNot(t => textTermCache.contains((indexName, t)))
    if (missing.nonEmpty) {
      val ts = textPart(path, "termstats")
        .filter(col("w").isin(missing: _*)).collect()
        .groupBy(_.getString(0))
        .map { case (w, rows) => w -> TermStat(rows.map(_.getLong(1)).sum,
          rows.map(_.getLong(2)).max, rows.map(_.getLong(3)).min) }
      missing.foreach(t => textTermCache.put((indexName, t), ts.get(t)))
    }
    terms.distinct.map(t => t -> textTermCache((indexName, t))).toMap
  }

  /** Each term's folded `impacts` histogram (qi, postings), ascending
    * qi — the same kind of lookup over the impacts artifact, ≤
    * |terms|·(1 + buckets) rows per partial. */
  private[graft] def termHistsOf(indexName: String, path: String,
      terms: Seq[String]): Map[String, Array[(Int, Long)]] = {
    val missing = terms.distinct
      .filterNot(t => textHistCache.contains((indexName, t)))
    if (missing.nonEmpty) {
      val hs = textPart(path, "impacts")
        .filter(col("w").isin(missing: _*)).collect()
        .groupBy(_.getString(0))
        .map { case (w, rows) =>
          w -> rows.groupMapReduce(_.getInt(1))(_.getLong(2))(_ + _)
            .toArray.sortBy(_._1) }
      missing.foreach(t =>
        textHistCache.put((indexName, t), hs.getOrElse(t, Array.empty)))
    }
    terms.distinct.map(t => t -> textHistCache((indexName, t))).toMap
  }

  /** Early-terminating EXACT top-k over the impact-bucketed artifact —
    * the serving path for probes on a metadata-bearing index. Two
    * pruned jobs instead of corpus-scale work:
    *
    * Phase 1 scores only each term's high-impact posting PREFIX
    * (buckets ≤ cut, covering ≥ max(1024, df/8) postings — the cut
    * certified below usually sits at ~10–15% of df for common terms).
    * Per-doc partial sums are LOWER bounds of true scores; the bucket
    * lower-edge bound (see [[QiScale]]) caps anything in a suffix.
    * With θ = the k-th best partial and U = Σ per-term suffix bounds:
    * if U < θ − margin, no unseen doc can reach the top-k, and the
    * candidate set {seen docs: partial + (U − Σ seen-term bounds)
    * ≥ θ − margin} provably contains the true top-k.
    *
    * Phase 2 re-scores ONLY the candidates with the classic expression
    * ([[bm25ScoreCol]]/[[bm25Pivot]]) and literal df/n/avgdl equal to
    * the classic plan's computed values — the returned scores are
    * bit-identical to the full probe's, so the q196 ≡ q165 hash law
    * holds on this path too. The margin (2e-4 > two 4dp rounding
    * quanta) ensures an excluded doc can't tie the rounded k-th score
    * either.
    *
    * Declines (returns None → classic path) on: legacy/dirty
    * artifacts, duplicate probe terms, < k matching docs, a k-th score
    * rounding to 0 (pad semantics), or failed certification after one
    * prefix deepening (remembered per term set until the index is
    * refreshed, so later probes skip phase 1) — every decline is
    * correctness-neutral. */
  private[graft] def fastBm25(indexName: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): Option[DataFrame] = {
    if (terms.distinct.size != terms.size) return None
    // the suffix bound drops the (1-b)k1/tf term, which is only
    // conservative for b in [0,1] (and tf-monotonicity needs k1 >= 0);
    // exotic parameters take the uncut plans, which are always exact
    if (b < 0 || b > 1 || k1 < 0) return None
    val path = textMeta.get(indexName).map(_._1).getOrElse(return None)
    if (isDirty(path)) return None
    if (!artifactExists(s"$path/termstats") ||
      !artifactExists(s"$path/impacts")) return None
    val (n, sumdl) = statsOf(indexName).getOrElse(return None)
    if (n == 0L) return None
    val avgdl = sumdl.toDouble / n
    val metas = termStatsOf(indexName, path, terms)
    val present = terms.filter(t => metas.get(t).exists(_.isDefined))
    if (present.isEmpty) return None // nothing matches: classic pads
    // cost gate: the cut saves (slice − prefix) shuffle+aggregation but
    // spends two extra jobs; below this slice size the one-job literal
    // plan ([[litMatched]]) wins on the job floor alone (measured at
    // sf10: Σdf 1.2M → 0.66 s one-job vs 0.75 s cut path; the cut pays
    // from the multi-million-row slices up). Session-tunable for
    // experiments and the EngineSpec certification law.
    val minRows = spark.conf
      .getOption("graft.bm25.fastPathMinRows").map(_.toLong)
      .getOrElse(4000000L)
    if (metas.valuesIterator.flatten.map(_.df).sum < minRows) return None
    // the impact histograms only the cut reads, so only past the gate
    val hists = termHistsOf(indexName, path, present)
    def idfOf(df: Long): Double = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def gOf(tf: Double, dl: Double): Double =
      tf * (k1 + 1) / (tf + (1 - b + b * dl / avgdl) * k1)
    val post = table(s"${indexName}_postings")
    // the certified cut depth is a property of the corpus's score
    // distribution, not the query instant — remember it per term set
    // so steady-state probes never pay an uncertified round.
    // COLD probes (no cached depth) make a SINGLE attempt: a near-tied
    // term set that fails to certify at 0.25 declines straight to the
    // classic plan (exact either way) instead of paying a second
    // phase-1 job in-line, and records 0.5 so the NEXT probe on the
    // same term set starts at the deeper cut — r17/r18 carried item,
    // Bm25Probe A/B in OPTIMIZATION_r19.md. Warm probes keep the
    // one-deepening retry (their cached depth certifying is the
    // steady state; a corpus drift that breaks it re-certifies once).
    // A term set that fails at every depth it tried holds the
    // [[Bm25Declines]] sentinel: later probes go straight to the
    // classic plan, with no phase-1 job, until a refresh clears it.
    val fracKey = indexName + "|" + terms.sorted.mkString(",")
    val cachedFrac = textFracCache.get(fracKey)
    if (cachedFrac.contains(Bm25Declines)) return None
    val fracs = cachedFrac match {
      case Some(f) => Seq(f, 0.5).distinct
      case None => Seq(0.25)
    }
    var attempt = 0
    while (attempt < fracs.length) {
      val targetFrac = fracs(attempt)
      // per-term prefix cut: smallest impact bucket covering the
      // target posting count; a term fully covered has suffix bound 0
      val cuts: Map[String, (Int, Double)] = present.map { t =>
        val m = metas(t).get
        val target = math.max(1024L, math.ceil(m.df * targetFrac).toLong)
        val hist = hists(t)
        val maxBucket = hist.lastOption.map(_._1).getOrElse(QiMax)
        var cum = 0L
        var cut = maxBucket
        var found = false
        hist.foreach { case (qi, cnt) =>
          if (!found) { cum += cnt; if (cum >= target) { cut = qi; found = true } }
        }
        val sb = if (cut >= maxBucket) 0.0 else {
          val vLo = math.pow(2.0, (cut + 1).toDouble / QiScale)
          val bucketUb = (k1 + 1) / (1 + b * k1 * vLo / avgdl)
          val termUb = gOf(m.maxTf.toDouble, m.minDl.toDouble)
          idfOf(m.df) * math.min(bucketUb, termUb) * (1 + 1e-9) + 1e-12
        }
        t -> ((cut, sb))
      }.toMap
      val bigU = cuts.valuesIterator.map(_._2).sum
      val maxCut = cuts.valuesIterator.map(_._1).max
      val prefixPred = present.map(t =>
        col("w") === t && col("qi") <= cuts(t)._1).reduce(_ || _)
      def byW(f: String => org.apache.spark.sql.Column) =
        present.tail.foldLeft(when(col("w") === present.head,
          f(present.head))) { (acc, t) => acc.when(col("w") === t, f(t)) }
      val scored = post
        .filter(col("w").isin(present: _*) && col("qi") <= maxCut &&
          prefixPred)
        .withColumn("df", byW(t => lit(metas(t).get.df)))
        .withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl))
        .withColumn("s", bm25ScoreCol(k1, b))
        .withColumn("sb", byW(t => lit(cuts(t)._2)))
      val p1 = scored.groupBy("doc_id")
        .agg(sum(col("s")).as("partial"), sum(col("sb")).as("seensb"))
        .persist()
      try {
        val top = p1.orderBy(col("partial").desc).limit(k).collect()
        if (top.length < k) return None // pad semantics → classic
        val thetaLow = top.last.getDouble(1)
        val margin = 2e-4 + 1e-9 * math.abs(thetaLow)
        if (bigU < thetaLow - margin) {
          // ad-hoc term sets would otherwise grow the map forever
          if (textFracCache.size > 4096) textFracCache.clear()
          textFracCache.put(fracKey, targetFrac)
          val cands = p1.filter(
            col("partial") + (lit(bigU) - col("seensb")) >=
              thetaLow - margin).select("doc_id")
          val exact = post.filter(col("w").isin(present: _*))
            .join(broadcast(cands), Seq("doc_id"), "left_semi")
            .withColumn("df", byW(t => lit(metas(t).get.df)))
            .withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl))
            .withColumn("s", bm25ScoreCol(k1, b))
          val resPlan = bm25Pivot(exact, terms)
            .orderBy(col("bm25").desc, col("doc_id")).limit(k)
          val res = resPlan.collect()
          return if (res.length == k && res.last.getDouble(1) > 0.0)
            Some(localFrame(res, resPlan.schema))
          else None // k-th rounds to 0 → classic pad path
        }
      } finally { p1.unpersist(); () }
      attempt += 1 // warm: deepen the prefix once, then give up
    }
    // cold decline: remember the deeper cut so the next probe on this
    // term set certifies in one attempt; warm decline (the deeper cut
    // failed too): remember to decline without probing (bounded map,
    // same cap rule)
    if (textFracCache.size > 4096) textFracCache.clear()
    textFracCache.put(fracKey, if (cachedFrac.isEmpty) 0.5 else Bm25Declines)
    None
  }

  /** Curation report verb: per-(source, rule) C4-gate kill rates over
    * a managed documents-shaped table (columns `text`, `source`) — the
    * operational readout of the q151 gate. One corpus pass, one
    * |sources|·4-group aggregation ([[graft.operators.TextOps.c4Report]]). */
  def curationReport(docsTable: String): DataFrame =
    graft.operators.TextOps.c4Report(table(docsTable))

  /** Probe an [[buildAnnIndex]] index: rank cells against the query on
    * the driver (centroids are metadata-scale, ≈√N rows), then scan
    * only the probed cells — per-query work O(nprobe·N/nlist). On a PQ
    * index the cell scan reads code bytes (ADC) and the shortlist is
    * rescored on raw floats from the base table, so the returned
    * `cos_sim` is exact either way. */
  def annSearch(indexName: String, query: Array[Float], k: Int = 10,
      nprobe: Int = 4): DataFrame = {
    val t0 = System.nanoTime()
    val (df, pathTag) = annSearchImpl(indexName, query, k, nprobe)
    // rows = -1: annSearch returns a lazy plan (the caller executes
    // it), so the recorded duration covers probe planning + driver-side
    // cell ranking, not the scan
    recordProbe(indexName, "ann_search", s"k=$k nprobe=$nprobe",
      pathTag, (System.nanoTime() - t0) / 1000000L, -1L)
    df
  }

  private def annSearchImpl(indexName: String, query: Array[Float],
      k: Int, nprobe: Int): (DataFrame, String) = {
    if (registry.contains(s"${indexName}_codebooks")) {
      import graft.operators.SimilarityOps
      import spark.implicits._
      val (idCol, embCol) = annMeta.getOrElse(indexName,
        ("vec_id", "embedding"))
      val base = indexRegistry.getOrElse(indexName,
        throw new IllegalArgumentException(
          s"""Catalog Error: Index with name "$indexName" does not exist!"""))._1
      val raw = table(base)
        .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
      val queries = Seq((-1L, query)).toDF("qid", "q_emb")
      return (SimilarityOps.pqSearch(queries, table(s"${indexName}_cells"),
        table(s"${indexName}_centroids"), booksOf(indexName), raw,
        k = k, nprobe = nprobe, shortlist = math.max(4 * k, 40),
        centsArr = annCentroids(indexName))
        .select(col("neighbor").as("vec_id"), col("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")), "ivf_pq")
    }
    val cents = annCentroids(indexName)
    def cos(v: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val m = math.min(v.length, query.length)
      while (i < m) {
        dot += v(i).toDouble * query(i)
        na += v(i).toDouble * v(i); nb += query(i).toDouble * query(i)
        i += 1
      }
      dot / math.max(1e-12, math.sqrt(na) * math.sqrt(nb))
    }
    val probed = cents.zipWithIndex
      .map { case (v, ci) => (ci.toLong, cos(v)) }
      .sortBy(-_._2).take(nprobe).map(_._1)
    (table(s"${indexName}_cells")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosineSim(col("embedding"),
          typedLit(query)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k), "ivf")
  }

  // ---- probe observability ---------------------------------------------

  private case class ProbeStat(index: String, verb: String, arg: String,
      path: String, durationMs: Long, rows: Long,
      start: java.sql.Timestamp)
  // probes are the high-QPS path: unlike the SQL stats queues (cleared
  // by an explicit reference verb), this buffer is bounded — a
  // long-running serving process keeps the newest window instead of
  // leaking one row per probe until clearProbeStats
  private[graft] val ProbeStatsCap = 4096
  private val probeStatsQ = new java.util.ArrayDeque[ProbeStat]()

  private[graft] def recordProbe(index: String, verb: String,
      arg: String, path: String, durationMs: Long, rows: Long): Unit =
    probeStatsQ.synchronized {
      probeStatsQ.addLast(ProbeStat(index, verb, arg, path, durationMs,
        rows, new java.sql.Timestamp(System.currentTimeMillis())))
      if (probeStatsQ.size > ProbeStatsCap) probeStatsQ.pollFirst()
      ()
    }

  /** Serving-probe execution stats — the index-serving analog of
    * [[EngineSqlStats.executionStats]] (the reference's observability
    * anchor: probes are the recorded COMMON case, so they get their
    * own surface instead of riding the SQL listener, which cannot see
    * an internally-executed probe). One row per [[bm25Search]] /
    * [[annSearch]] call: which index, which verb, the probe argument,
    * which plan path served (`cut` / `one_job` / `classic` [+`pad`] /
    * `empty` for text; `ivf_pq` / `ivf` for dense), duration, and
    * returned rows (−1 marks a lazily-executed plan — annSearch
    * returns the plan and the CALLER executes it, so its duration
    * covers probe planning + driver-side cell ranking). Bounded ring:
    * only the newest [[ProbeStatsCap]] probes are retained. Also
    * reachable from SQL as the table function `graft_probe_stats()`. */
  def probeStats: DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val snap = probeStatsQ.synchronized { probeStatsQ.asScala.toVector }
    snap
      .map(p => (p.index, p.verb, p.arg, p.path, p.durationMs, p.rows,
        p.start))
      .toDF("index_name", "verb", "arg", "plan_path", "duration_ms",
        "rows", "started_at")
  }

  def clearProbeStats(): Unit =
    probeStatsQ.synchronized { probeStatsQ.clear() }

  /** (refresh-appended tail rows, rows at last build/OPTIMIZE) per
    * serving index — the maintenance-cadence signal. Probe pruning
    * degrades only with the un-compacted tail, and OPTIMIZE costs ≤¼
    * of a rebuild (BENCH_NOTES OptProbe), so the operating rule is:
    * refresh per batch at O(batch), OPTIMIZE when `tail_frac` in the
    * [[indexes]] introspection starts showing in probe latency (the
    * measured knee is well above 5%, so single-digit tails are free). */
  private[graft] val indexTail = TrieMap.empty[String, (Long, Long)]

  /** What an index entry serves — mirrors the EXPORT manifest kinds. */
  private[graft] def indexKind(ix: String): String =
    if (textMeta.contains(ix)) "text"
    else if (annMeta.contains(ix)) "ann"
    else if (tokenizerMeta.contains(ix)) "tokenizer"
    else if (classifierMeta.contains(ix)) "classifier"
    else if (shingleMeta.contains(ix)) "shingle"
    else if (servingIndexes.contains(ix)) "serving"
    else "plain"

  /** ≈ duckdb_indexes() introspection (index_operations.test:50-58),
    * extended with the serving-index maintenance columns: `kind`, and
    * for text/ANN artifacts the refresh-appended `tail_rows` /
    * `tail_frac` plus rows compacted at the last build/OPTIMIZE —
    * the signal an operator schedules OPTIMIZE from (see
    * [[indexTail]]). Original columns keep their names and positions,
    * so duckdb_indexes() consumers are unaffected. */
  def indexes: DataFrame = {
    import spark.implicits._
    indexRegistry.toSeq.map { case (i, (t, c)) =>
      val (tail, base) = indexTail.getOrElse(i, (0L, 0L))
      val frac = if (tail + base == 0L) 0.0
        else BigDecimal(tail.toDouble / (tail + base))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (i, t, c.mkString(","), indexKind(i), tail, frac)
    }.toDF("index_name", "table_name", "columns", "kind",
      "tail_rows", "tail_frac")
  }

  // ---- persisted corpus tokenizer (BPE) ---------------------------------

  /** Train and persist a corpus BPE tokenizer: the learned merge table
    * lands as a managed table `<name>_merges` (rank, lhs, rhs) and the
    * tokenizer is listed in index introspection — the same
    * train-once/probe-many amortization as [[buildAnnIndex]]. The
    * merges are FROZEN by design (no incremental refresh): a training
    * run's token budgets are only comparable under one tokenizer, so
    * day-2 data is encoded with the day-1 merges and a vocabulary
    * shift is an explicit retrain, never a silent drift. Returns the
    * number of merges learned (may stop early when no pair repeats). */
  def trainTokenizer(name: String, tableName: String,
      textCol: String = "text", numMerges: Int = 192,
      vocabCap: Int = 65536): Int = {
    import graft.operators.BpeOps
    import spark.implicits._
    val docs = table(tableName).select(col(textCol).as("text"))
    val m = BpeOps.train(docs, numMerges, vocabCap)
    val rows = m.ranks.toSeq.map { case ((a, b), r) => (r, a, b) }
      .sortBy(_._1)
    put(s"${name}_merges", rows.toDF("rank", "lhs", "rhs"))
    tokenizerMeta.put(name, textCol)
    createIndex(name, tableName, Seq(textCol), ifNotExists = true)
    servingIndexes.put(name, ())
    m.ranks.size
  }

  /** Per-document token statistics for `tableName` under the frozen
    * tokenizer `name` (merges broadcast, one corpus pass): doc_id,
    * source, n_words, n_tokens, token_chars, word_chars. */
  def tokenize(name: String, tableName: String): DataFrame = {
    import graft.operators.BpeOps
    if (!registry.contains(s"${name}_merges"))
      throw new IllegalArgumentException(
        s"""Catalog Error: Index with name "$name" does not exist!""")
    val merges = BpeOps.Merges(table(s"${name}_merges").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap)
    val textCol = tokenizerMeta.getOrElse(name, "text")
    val base0 = table(tableName)
    var docs = if (base0.columns.contains(textCol) && textCol != "text")
      base0.withColumn("text", col(textCol)) else base0
    if (!docs.columns.contains("doc_id"))
      docs = docs.withColumn("doc_id", monotonically_increasing_id())
    if (!docs.columns.contains("source"))
      docs = docs.withColumn("source", lit(""))
    BpeOps.encodeStats(spark, docs, merges)
  }

  private[graft] val tokenizerMeta = TrieMap.empty[String, String]

  // ---- NB classifier lifecycle (train offline / serve online) ----------

  /** Train the q181 multinomial NB classifier over a managed table and
    * persist the model as `<name>_model` — (w, cls, q) rows, w NULL
    * marking the per-class log-priors; everything integer-quantized
    * (CurationOps.nbModelFrames). The model is FROZEN by design, like
    * the BPE tokenizer: later inserts into `tableName` do NOT move it
    * (scores and gates stay comparable day over day); retraining is an
    * explicit re-call. ONE corpus aggregation; the persisted model is
    * metadata-sized (≤ vocabCap·C + C rows). Returns the vocabulary
    * size actually learned. */
  def trainClassifier(name: String, tableName: String,
      labelCol: String = "lang", textCol: String = "text",
      vocabCap: Int = graft.operators.CurationOps.NbVocabCap): Int = {
    import spark.implicits._
    val base = table(tableName)
    val docs = if (textCol != "text")
      base.withColumn("text", col(textCol)) else base
    val (model, prior, release) = graft.operators.CurationOps
      .nbModelFrames(docs, labelCol, vocabCap)
    val modelRows = model.select(col("w"), col("cls"), col("lp_q"))
      .as[(String, String, Long)].collect().toSeq
    val priorRows = prior.as[(String, Long)].collect().toSeq
      .map { case (c, q) => (null.asInstanceOf[String], c, q) }
    release() // both frames materialized — drop the training cache
    put(s"${name}_model", (modelRows ++ priorRows).toDF("w", "cls", "q"))
    classifierMeta.put(name, textCol)
    createIndex(name, tableName, Seq(textCol), ifNotExists = true)
    servingIndexes.put(name, ())
    modelRows.iterator.map(_._1).toSet.size
  }

  /** Score every row of `tableName` under the FROZEN model `name`:
    * (doc_id, pred_cls, score_q) via the stateless broadcast-literal
    * expression (CurationOps.nbScore) — the same expression the
    * streaming scorer uses, so batch ≡ stream structurally. */
  def classify(name: String, tableName: String): DataFrame = {
    if (!registry.contains(s"${name}_model"))
      throw new IllegalArgumentException(
        s"""Catalog Error: Index with name "$name" does not exist!""")
    val m = graft.operators.NbModel.fromRows(table(s"${name}_model"))
    val textCol = classifierMeta.getOrElse(name, "text")
    var docs = table(tableName)
    if (textCol != "text" && docs.columns.contains(textCol))
      docs = docs.withColumn("text", col(textCol))
    if (!docs.columns.contains("doc_id"))
      docs = docs.withColumn("doc_id", monotonically_increasing_id())
    graft.operators.CurationOps.nbScore(docs, m, "text")
      .select(col("doc_id"), col("pred_cls"), col("score_q"))
  }

  /** Drop a trained classifier: its index entry, its frozen model
    * table, and its metadata. */
  def dropClassifier(name: String, ifExists: Boolean = false): Unit = {
    if (!registry.contains(s"${name}_model")) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"""Catalog Error: Index with name "$name" does not exist!""")
    }
    dropIndex(name, ifExists = true)
    unregisterTable(s"${name}_model")
    classifierMeta.remove(name)
    ()
  }

  private[graft] val classifierMeta = TrieMap.empty[String, String]
}
