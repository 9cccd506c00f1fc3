package perfbench

import org.apache.spark.sql.SparkSession

/** The query-mix fixture: `graft.tools.GenData`'s deterministic tables,
  * rewritten as one parquet file per table — the layout the queries and
  * tools/compare.py read. Usage: `Fixture <outDir> <mult> <work>`.
  */
object Fixture {
  def main(args: Array[String]): Unit = {
    val Array(out, mult, work) = args
    val gen = s"$work/gen"
    graft.tools.GenData.main(Array(gen, mult))
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    new java.io.File(out).mkdirs()
    graft.Tables.names.foreach { t =>
      spark.read.parquet(s"$gen/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$work/one/$t")
      val part = new java.io.File(s"$work/one/$t").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$t: expected one part file, found ${part.length}")
      fs.copyToLocalFile(false, new org.apache.hadoop.fs.Path(part.head.getPath),
        new org.apache.hadoop.fs.Path(s"$out/$t.parquet"), true)
    }
    spark.stop()
  }
}
