package graft

import graft.observability.AuditListener

/** Audit listener (SURVEY.md §2.12 X5) — reference field set per
  * trino/OkeraEventListener.java:26-67: query id, user, timings, success/error.
  */
class AuditSpec extends SparkSpec {

  /** Records `l` holds once `f` has run and its events are delivered
    * (`Inspect.record` drains the listener bus both listeners share).
    */
  private def auditedBy(l: AuditListener)(f: => Unit): Seq[graft.observability.AuditRecord] =
    try { Inspect.record(spark)(f); l.records }
    finally spark.listenerManager.unregister(l)

  test("successful query produces an audit record with the reference fields") {
    val rs = auditedBy(AuditListener.install(spark)) {
      spark.sql("SELECT count(*) FROM graft.main.region").collect()
    }
    assert(rs.nonEmpty, "no audit record delivered")
    // the first record after install is the query's (the drain's own
    // marker query may follow it)
    val r = rs.head
    assert(r.success)
    assert(r.user.nonEmpty)
    assert(r.durationNs > 0)
    assert(r.sql.toLowerCase.contains("region"))
  }

  test("failed query is audited as error") {
    val rs = auditedBy(AuditListener.install(spark)) {
      intercept[Exception] {
        spark.sql("SELECT raise_error('boom') FROM graft.main.region").collect()
      }
    }
    val err = rs.find(r => !r.success && r.error.exists(_.contains("boom")))
    assert(err.isDefined, s"error record missing: $rs")
    // the error path recovers the true start from the planning tracker —
    // failed queries must carry a real duration, not 0
    assert(err.get.durationNs > 0, s"failure duration lost: ${err.get}")
  }
}
