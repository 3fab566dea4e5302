package graft

import org.apache.spark.sql.types.TimestampType

/** Building a query changes no session conf: the table loaders read
  * with the session as `Sessions.builder` made it. */
class TablesSpec extends SparkSpec {

  test("Tables.events changes no session conf and reads ts as a timestamp") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val events = Tables.events(s, sfDir)
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.count() > 0L)
    assert(s.conf.getAll == before)
  }
}
