package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Okapi BM25 (k1 1.2, b 0.75) over the raw corpus, computed on the
  * driver: whitespace tokens, idf ln(1 + (N - df + 0.5) / (df + 0.5)),
  * per-term addends summed in the probe's term order, rounded to 4
  * places like the engine's served score. */
final class Bm25Oracle(docs: Seq[(Long, String)]) {
  private val k1 = 1.2; private val b = 0.75
  private val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
  private val dl = toks.map { case (id, ws) => id -> ws.length.toLong }.toMap
  private val n = docs.size.toLong
  private val avgdl = dl.values.sum.toDouble / n
  private val postings: Map[String, Map[Long, Long]] = toks.flatMap {
    case (id, ws) => ws.groupBy(identity).map { case (w, occ) =>
      (w, id, occ.length.toLong) }
  }.groupBy(_._1).view.mapValues(_.map(x => x._2 -> x._3).toMap).toMap

  def vocabularyByFrequency: IndexedSeq[String] =
    postings.toSeq.sortBy { case (w, p) => (-p.size, w) }.map(_._1).toIndexedSeq

  private def addend(df: Long, tf: Long, d: Long): Double =
    math.log(1 + (n - df + 0.5) / (df + 0.5)) * tf * (k1 + 1) /
      (tf + ((1 - b) + b * d / avgdl) * k1)

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def score(terms: Seq[String], doc: Long): Double =
    round4(terms.map { t =>
      val p = postings.getOrElse(t, Map.empty)
      p.get(doc).map(tf => addend(p.size.toLong, tf, dl(doc))).getOrElse(0.0)
    }.reduce(_ + _))

  def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val cand = terms.flatMap(t => postings.getOrElse(t, Map.empty).keys).distinct
    cand.map(d => d -> score(terms, d)).sortBy { case (d, s) => (-s, d) }.take(k)
  }

  /** None when `rows` (doc_id, bm25) is a valid top-k for `terms`. */
  def check(terms: Seq[String], k: Int, rows: Seq[Row]): Option[String] = {
    val exp = topK(terms, k)
    val got = rows.map(r => r.getLong(0) -> r.getDouble(1))
    val eps = 1.01e-4
    if (got.size != exp.size) Some(s"$terms: ${got.size} hits, expected ${exp.size}")
    else if (got.map(_._1).distinct.size != got.size) Some(s"$terms: repeated doc")
    else got.zip(exp).collectFirst {
      case ((gd, gs), (_, es)) if math.abs(gs - es) > eps =>
        s"$terms: score $gs of doc $gd where rank expects $es"
    }.orElse(got.collectFirst {
      case (gd, gs) if math.abs(score(terms, gd) - gs) > eps =>
        s"$terms: doc $gd scored $gs, full pass gives ${score(terms, gd)}"
    })
  }
}

/** Exact cosine similarity over the raw embeddings, for checking
  * `annSearch` probes made with stored vectors: the probe's own vector
  * must rank first, scores must be sorted and equal the exact cosine. */
final class AnnOracle(vectors: Map[Long, Array[Float]]) {
  private val ids = vectors.keys.toIndexedSeq.sorted

  def pick(rng: scala.util.Random): Long = ids(rng.nextInt(ids.size))
  def vector(id: Long): Array[Float] = vectors(id)

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** None when `rows` (vec_id, cos_sim) answers a probe with vector `id`. */
  def check(id: Long, rows: Seq[Row]): Option[String] = {
    val q = vectors(id)
    def exact(r: Row) = cos(vectors(r.getLong(0)), q)
    if (rows.isEmpty) Some("no neighbours")
    else if (rows.head.getLong(0) != id) Some(s"top hit ${rows.head} is not $id")
    else rows.sliding(2).collectFirst {
      case Seq(a, b) if a.getDouble(1) < b.getDouble(1) => s"unsorted $a $b"
    }.orElse(rows.collectFirst {
      case r if math.abs(exact(r) - r.getDouble(1)) > 1e-5 =>
        s"cos_sim of ${r.getLong(0)}: ${r.getDouble(1)} vs exact ${exact(r)}"
    })
  }
}

object AnnOracle {
  def load(spark: SparkSession, dir: String): AnnOracle =
    new AnnOracle(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap)
}
