package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** The curation corpus: the `documents` (500 rows) and `embeddings` (500
  * 64-dim vectors) tables of the repo's sf0.01 test data, committed as
  * they are under `perfbench/data`. The corpus is fixed, so every run
  * checks the same pinned result digests; the run's seed orders the work
  * instead.
  */
object Corpus {
  val Tables: Seq[String] = Seq("documents", "embeddings")

  /** Copy the corpus tables from `dataDir` to `<dir>/<table>.parquet`. */
  def write(dataDir: String, dir: String): Unit = Tables.foreach { t =>
    val dst = Paths.get(dir, s"$t.parquet")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(dataDir, s"$t.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
  }

  /** (doc_id, text) of every document, in doc_id order. */
  def documents(spark: SparkSession, dataDir: String): IndexedSeq[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toIndexedSeq
  }
}
