package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The df-cap tombstone RE-AUDIT of a takedown, for both text families
  * (keyed by `s` in [[IndexedDedup]], by `term` in
  * [[graft.text.Bm25Index]]). Keep-side df is not monotone once docs
  * leave, so each touched tombstoned key's df over the remaining corpus
  * decides whether it goes back to postings: `unTomb` holds those keys,
  * `restored` their (key, doc_id, …) rows. Retraction only lowers df,
  * so a key over the cap on the remaining corpus is tombstoned already:
  * the index then holds exactly what a fresh bootstrap on the remaining
  * corpus would. The object builds frames only: the family pins the
  * scan through `pin` and runs every action at its own call site. */
private[graft] final case class TombstoneAudit(key: String, unTomb: DataFrame,
                                               restored: DataFrame) {

  /** `rest` without the un-tombstoned keys' tombstone rows (a tombstoned
    * key has only that row) plus their restored postings, as `rows`. */
  def patch(rest: DataFrame)(rows: DataFrame => DataFrame): DataFrame =
    rest.join(broadcast(unTomb), Seq(key), "left_anti").unionByName(rows(restored))
}

private[graft] object TombstoneAudit {

  /** The audit of the `touched` tombstoned keys over `corpus`'s rows
    * (one per doc and key), scanning only those keys. None, and the
    * corpus never read, without a corpus (the one-way cap policy) or
    * with nothing touched. */
  def apply(corpus: Option[DataFrame], key: String, touched: Seq[String],
            cap: Long)(pin: DataFrame => DataFrame): Option[TombstoneAudit] =
    corpus.filter(_ => touched.nonEmpty).map { rows =>
      val scan = pin(rows.where(col(key).isin(touched: _*)))
      // back to postings: every touched key not over the cap, INCLUDING
      // df = 0 (all its docs retracted, so no scan row at all; ADVICE r13)
      val overCap = scan.groupBy(key).agg(count(lit(1)).as("df"))
        .where(col("df") > cap).select(key)
      val spark = scan.sparkSession
      import spark.implicits._
      TombstoneAudit(key,
        touched.toDF(key).join(broadcast(overCap), Seq(key), "left_anti"),
        scan.join(broadcast(overCap), Seq(key), "left_anti"))
    }
}
