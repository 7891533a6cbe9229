package perfbench

/** Writes the DuckDB oracle SQL of the pipeline queries, one
  * `<query>.sql` file each, for `oracle.py` to run at tier preparation.
  * Usage: perfbench.Prep <out_dir> */
object Prep {
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(out)
    Pipeline.Queries.foreach { q =>
      graft.SparkEntry.oracleSql.get(q).foreach(sql =>
        java.nio.file.Files.write(out.resolve(s"$q.sql"), sql.getBytes("UTF-8")))
    }
  }
}
