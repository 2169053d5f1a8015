package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sync engine's CDC/MERGE plan (SURVEY.md §2.3 J3/J4/J5): given two
  * keyed catalogs — `remote(name, hash)` (source of truth) and
  * `stored(name, hash)` (destination) — classify every key into
  * insert / update / skip / delete, exactly the reference's per-file
  * decision loop (`Task_1_sync_bls_files.py:88-115,150-198`) but as ONE
  * declarative plan instead of N sequential HTTP round-trips.
  *
  * Scale: a full outer join on `name` — both sides shuffle-partitioned by
  * key, so a 100M-object catalog diff is a single co-partitioned join, no
  * driver-side state. The reference's 8KB-chunk MD5 streaming becomes the
  * engine's `md5(content)` at read time (column `hash` here is
  * format-agnostic: MD5, ETag, xxhash64...).
  */
object CdcMerge {

  /** Returns `(name, action, remote_hash, stored_hash)` with
    * `action ∈ {insert, update, skip, delete}`.
    */
  def plan(remote: DataFrame, stored: DataFrame): DataFrame = {
    val r = remote.select(col("name"), col("hash").as("remote_hash"))
    val s = stored.select(col("name"), col("hash").as("stored_hash"))
    r.join(s, Seq("name"), "full_outer")
      .withColumn("action",
        when(col("stored_hash").isNull, lit("insert"))
          .when(col("remote_hash").isNull, lit("delete"))
          .when(col("remote_hash") =!= col("stored_hash"), lit("update"))
          .otherwise(lit("skip")))
      .select("name", "action", "remote_hash", "stored_hash")
  }

  /** Actions whose key is (re-)fetched into the destination — the
    * reference's download+upload set (insert ∪ update).
    */
  val fetchActions: Set[String] = Set("insert", "update")

  /** Actions whose key is removed from the destination (reference
    * `Task_1_sync_bls_files.py:189-198`).
    */
  val deleteActions: Set[String] = Set("delete")
}
