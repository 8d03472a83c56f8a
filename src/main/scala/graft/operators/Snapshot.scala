package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot comparison — the "what changed between crawls"
  * primitive a recurring training-data pipeline runs before deciding
  * what to re-clean, re-tokenize, or re-embed. Diffing by content
  * FINGERPRINT (not raw text equality) makes the comparison
  * whitespace/case-insensitive and keeps the shuffled payload at one
  * 32-char hash per row regardless of document size.
  *
  * Scale shape (100 TB): each snapshot reduces to (id, fingerprint)
  * at the scan — column-pruned, map-side — then ONE full-outer
  * shuffle join on the id aligns the two versions. No window, no
  * driver state; downstream stages join the id list back to whichever
  * snapshot they need (`added`/`changed` → the new one). At cluster
  * scale, writing both snapshot tables bucketed by id
  * (`bucketBy(n, id).saveAsTable`) makes the recurring diff
  * exchange-free.
  */
object Snapshot {

  /** Per-id diff of two snapshots of the same corpus:
    * (doc_id, status, old_fp, new_fp) where status ∈
    * 'added' (id only in `newSnap`), 'removed' (only in `oldSnap`),
    * 'changed' (both, fingerprints differ), 'unchanged'.
    * Fingerprint is [[Dedup.fingerprint]] (whitespace-collapsed,
    * lowercased md5); absent sides carry NULL fp. */
  def diff(
      oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // [[Dedup.spreadText]]: the fingerprint projections otherwise sit
    // in the map side of the full-outer join's id shuffle, fused into
    // each snapshot's scan lineage (serial on a single-file feed).
    // Using the canonical spread subtree also unifies with a
    // [[Curation.report]] run over the same snapshot (lineage calls
    // both) — one text materialization per side via ReuseExchange.
    val o = Dedup.spreadText(oldSnap, idCol, textCol).select(
      col(idCol).as("__oid"), Dedup.fingerprint(col(textCol)).as("old_fp"))
    val n = Dedup.spreadText(newSnap, idCol, textCol).select(
      col(idCol).as("__nid"), Dedup.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(
        coalesce(col("__oid"), col("__nid")).as("doc_id"),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_fp"), col("new_fp"))
  }
}
