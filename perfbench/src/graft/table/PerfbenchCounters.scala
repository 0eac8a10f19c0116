package graft.table

/** Read-only view of the table layer's own parse counter (it is
  * package-private), so the traced run can tell a manifest-list cache hit
  * from a parse. */
object PerfbenchCounters {
  def manifestListParses: Long = Manifest.listParses.get()
}
