package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing — the dataset-versioning primitive: between
  * two snapshots of a corpus, classify every document as added, removed,
  * changed, or unchanged. Curation pipelines publish this with each
  * snapshot (what did the new crawl/filter pass actually do?) and ingest
  * systems use it to process deltas instead of full corpora.
  *
  * Scale shape: each side collapses to a thin `(id, 16-byte content
  * hash)` projection before anything joins — document text never crosses
  * the wire — and the classification is one id-keyed full-outer hash
  * join. The content key is `md5(text)` (not xxhash64) deliberately:
  * it's reproducible across engines, so the catalog oracle can compute
  * the identical diff in SQL.
  */
object SnapshotDiff {

  /** Per-document status between `before` and `after`:
    * `(idCol, status ∈ {added, removed, changed, unchanged})`, one row
    * per id present in either snapshot.
    */
  def diff(
      before: DataFrame,
      after: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    def keyed(df: DataFrame, h: String) =
      df.select(col(idCol), md5(col(textCol)).as(h))
    keyed(before, "h_before").join(keyed(after, "h_after"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("h_before").isNull, "added")
          .when(col("h_after").isNull, "removed")
          .when(col("h_before") =!= col("h_after"), "changed")
          .otherwise("unchanged").as("status"))
  }
}
