package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query board: one sub-second query from each of the eleven
  * families of the `SparkEntry.queries` surface at sf0.1, sized so one
  * run (fresh JVM, cold pass, warm pass, two steady passes) stays near
  * a minute. The first six families are the reference's query surface,
  * the rest graft's LLM-data operators. */
object Boards {
  val queries: Seq[String] = Seq(
    "rel_pricing_summary", "sql_correlated_exists", "scd2_current", "cdc_json_extract",
    "src_csv_json", "stream_event_rollup",
    "dedup_minhash_lsh", "sim_knn_lsh", "text_bm25", "emb_centroids", "multimodal_frames")

  val families: Seq[String] =
    Seq("rel", "sql", "scd2", "cdc", "src", "stream", "dedup", "sim", "text", "emb", "multimodal")

  def family(query: String): String = query.takeWhile(_ != '_')

  /** Order-insensitive content hash: row count plus the exact decimal sum
    * of a 64-bit hash per row. Rows are hashed through their JSON form,
    * which every column type has. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => df.col(s"`$c`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Expected (rows, hash) per query, one `name<TAB>rows<TAB>hash` line each. */
  def readExpected(path: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> (rows.toLong, h)
      }.toMap

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)
}
