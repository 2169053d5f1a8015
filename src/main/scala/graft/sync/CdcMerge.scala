package graft.sync

/** The sync engine's CDC/MERGE rule (SURVEY.md §2.3 J3/J4/J5): given two
  * keyed catalogs — `remote` (source of truth) and `stored`
  * (destination), each `name → hash` — classify every key into
  * insert / update / skip / delete. This is the reference's own
  * per-file decision loop (`Task_1_sync_bls_files.py:88-115,150-198`),
  * run on the driver over the listed catalogs: a catalog is keys, not
  * content, and [[SyncJob.run]] applies the decisions there anyway.
  * The hash is format-agnostic (MD5, ETag, xxhash64...).
  */
object CdcMerge {

  /** One key's decision; a hash is `None` on the side that lacks the key. */
  final case class Decision(name: String, action: String,
                            remoteHash: Option[String],
                            storedHash: Option[String])

  /** One [[Decision]] per key of either side, by name, with
    * `action ∈ {insert, update, skip, delete}`.
    */
  def plan(remote: Map[String, String], stored: Map[String, String]): Seq[Decision] =
    (remote.keySet ++ stored.keySet).toSeq.sorted.map { name =>
      val (r, s) = (remote.get(name), stored.get(name))
      val action =
        if (s.isEmpty) "insert"
        else if (r.isEmpty) "delete"
        else if (r != s) "update"
        else "skip"
      Decision(name, action, r, s)
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
