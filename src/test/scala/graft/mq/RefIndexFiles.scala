package graft.mq

import graft.ops.DedupOps
import org.apache.spark.sql.SparkSession

/** A lexical [[DedupOps.DedupRefIndex]] kept as two parquet tables, the
  * durable state of the streaming-dedup specs: what a deployment writes
  * between triggers and reads back after a driver restart. The read-back
  * index is priced ([[DedupOps.priceRefIndex]]), so serves and appends
  * run the resident-index path.
  */
object RefIndexFiles {

  def save(path: String, index: DedupOps.DedupRefIndex): Unit = {
    index.reps.write.parquet(s"$path/reps")
    index.members.write.parquet(s"$path/members")
  }

  /** Reads back an index built with `buildJaccardRefIndex`'s default
    * 3-gram shingles. */
  def load(spark: SparkSession, path: String): DedupOps.DedupRefIndex =
    DedupOps.priceRefIndex(DedupOps.DedupRefIndex(
      spark.read.parquet(s"$path/reps"), spark.read.parquet(s"$path/members"),
      axis = "lexical", shingleN = Some(3)))
}
