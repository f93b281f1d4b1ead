package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The round-11 adversarial hot-key corpus, on which the window vs
  * agg+join Dedup forms were measured (NOTES.md round-11 measurement
  * records), and which [[ScaleSmoke]]'s skew stages run on (its wall
  * bars are ~4× those measurements):
  * single degenerate keys carry a constant fraction of the rows —
  *   - 5 % verbatim mega-copies of one text: one mega content-hash
  *     group (dd2) and one mega identical-SimHash group (dd5 stars);
  *   - 5 % near-empty two-token docs: degenerate 16-bit SimHash
  *     chunks with thousands of DISTINCT sigs (dd5 dsz path) and
  *     degenerate MinHash band buckets (dd3 segmented chains);
  *   - 90 % unique bodies sharing a verbatim boilerplate tail:
  *     stop-shingles with df ≈ 0.9·n (the keptShingles df cutoff).
  * ONE definition so the smoke's bars keep corresponding to the
  * measured workload — a second builder drifting apart would silently
  * decouple the bars from what was measured.
  */
object SkewCorpus {

  /** Rows in the standard probe/smoke instance (~2M: big enough that a
    * single-task hot-key shape visibly staggers at local[32], small
    * enough to iterate on). */
  val DefaultRows = 2000000L

  def adversarial(spark: SparkSession, n: Long = DefaultRows): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      when(col("id") % 20 === 0,
        lit("mega duplicate document body held verbatim every copy identical"))
      .when(col("id") % 20 === 1, concat(lit("x t"), col("id")))
      .otherwise(concat(lit("unique body "), col("id"),
        lit(" trailing boiler plate of the and in to be")))
      .as("text"))
}
