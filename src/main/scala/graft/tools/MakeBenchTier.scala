package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-tier generator: replicates an sf directory `factor`× into a new
  * directory, keeping each copy a *disjoint sub-database* so every join
  * stays consistent and results scale linearly:
  *
  *  - fact/dimension keys shift by `copy * maxKey` consistently across
  *    tables (l_orderkey matches its orders copy, o_custkey its customer)
  *  - nation/region stay as-is (true dimensions)
  *  - documents mutate every 3rd word with a per-copy prefix: in-copy
  *    near-dup pairs keep their similarity (both sides get the same
  *    mutation) while cross-copy shingle overlap collapses — candidate
  *    growth stays linear, matching how a larger real crawl behaves
  *  - embeddings get small deterministic per-copy noise
  *  - events shift ids/users per copy; ts written as µs timestamp
  *
  * Usage: runMain graft.tools.MakeBenchTier <srcDir> <outDir> <factor>
  */
object MakeBenchTier {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.files(
      s"local[${graft.GraftSession.cpus()}]", 32)
    import spark.implicits._

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Write fact tables as 32 files (⇒ ≥32 row groups): a single-file,
    // single-row-group table caps every scan stage at ONE task — a row
    // group is the atomic parquet split unit, so no setting can
    // re-parallelize it afterwards. 32 matches the bench session's
    // cores; a production lakehouse targets ~128 MB files the same way.
    def wr(df: DataFrame, t: String, files: Int = 32): Unit = {
      // the repartition exists only to land `files` output files; when
      // the frame already has that many partitions (scaling an
      // already-32-file tier: explode preserves partitioning) skip it —
      // at sf100 the full shuffle spills ~uncompressed-table bytes to
      // /tmp and can exhaust the disk before the write starts
      val shaped =
        if (files == 1) df.coalesce(1)
        else if (df.rdd.getNumPartitions == files) df
        else df.repartition(files)
      shaped.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // copies via a small explode; shift(col, span) relocates a key
    val copies = explode(sequence(lit(0), lit(factor - 1))).as("copy")
    def scaled(df: DataFrame, shifts: (String, Long)*): DataFrame =
      shifts.foldLeft(df.select(col("*"), copies)) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + col("copy") * span)
      }.drop("copy")

    wr(rd("region"), "region", files = 1)
    wr(rd("nation"), "nation", files = 1)

    val custSpan = maxOf(rd("customer"), "c_custkey")
    val suppSpan = maxOf(rd("supplier"), "s_suppkey")
    val partSpan = maxOf(rd("part"), "p_partkey")
    val ordSpan = maxOf(rd("orders"), "o_orderkey")
    wr(scaled(rd("customer"), "c_custkey" -> custSpan), "customer")
    wr(scaled(rd("supplier"), "s_suppkey" -> suppSpan), "supplier")
    wr(scaled(rd("part"), "p_partkey" -> partSpan), "part")
    wr(scaled(rd("orders"), "o_orderkey" -> ordSpan,
      "o_custkey" -> custSpan), "orders")
    wr(scaled(rd("lineitem"), "l_orderkey" -> ordSpan,
      "l_partkey" -> partSpan, "l_suppkey" -> suppSpan), "lineitem")

    val ev = rd("events")
    val evSpan = maxOf(ev, "event_id")
    val userSpan = maxOf(ev, "user_id")
    // source ts is a nanos LONG when reading driver testdata
    // (nanosAsLong), already a TIMESTAMP when re-scaling a generated tier
    val evScaled = scaled(ev, "event_id" -> evSpan, "user_id" -> userSpan)
    wr(if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      evScaled.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else evScaled, "events")

    val docs = rd("documents")
    val docSpan = maxOf(docs, "doc_id")
    wr(scaled(docs, "doc_id" -> docSpan)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("copy", (col("doc_id") / docSpan).cast("int"))
      .as[(Long, String, String, String, Long, Int)]
      .map { case (id, text, lang, source, nChars, copy) =>
        val words = text.split(" ")
        var i = 0
        while (i < words.length) {
          if (i % 3 == 0) words(i) = s"c$copy${words(i)}"
          i += 1
        }
        (id, words.mkString(" "), lang, source, nChars)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val emb = rd("embeddings")
    val vecSpan = maxOf(emb, "vec_id")
    wr(scaled(emb, "vec_id" -> vecSpan)
      .select("vec_id", "embedding", "label")
      .withColumn("copy", (col("vec_id") / vecSpan).cast("int"))
      .as[(Long, Array[Float], Int, Int)]
      .map { case (id, v, label, copy) =>
        val r = new scala.util.Random(id)
        (id, v.map(x => x + (r.nextFloat() - 0.5f) * 0.02f * copy.min(1)),
          label)
      }.toDF("vec_id", "embedding", "label"), "embeddings")

    println(s"[maketier] wrote ${factor}x of $src to $out")
    spark.stop()
  }
}
