package graft

import graft.functions.HashUtil
import graft.plans.GraftFunctions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session recipe: the shared spec session is built by
  * [[GraftSession.local]], so its conf and SQL functions are the ones
  * every entry point runs with.
  */
class GraftSessionSpec extends SparkSpecBase {
  import spark.implicits._

  test("local session carries the scale conf and the SQL extensions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // extensions applied: the injected SQL functions resolve
    val h = spark.sql("SELECT md5prefix64('abc') AS h").as[Long].collect().head
    assert(h == HashUtil.md5Prefix64("abc"))
    val g = spark.sql("SELECT gramhashes64('abcdefghij', 8) AS g")
      .as[Seq[Long]].collect().head
    assert(g.length == 3)
    assert(g.head == HashUtil.md5Prefix64("abcdefgh") % HashUtil.P)
  }

  test("GraftFunctions.register installs the functions into a session whose registry lacks them") {
    // the runtime path k4/k4b take on a session built without the
    // extensions: drop every graft function from a child session's
    // registry (the shared session keeps its own), then register
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    GraftFunctions.descriptions.foreach { case (id, _, _) => registry.dropFunction(id) }
    assert(!registry.functionExists(FunctionIdentifier("md5prefix64")))
    assert(scala.util.Try(s.sql("SELECT md5prefix64('abc')").collect()).isFailure)
    GraftFunctions.register(s)
    assert(GraftFunctions.descriptions.forall { case (id, _, _) =>
      registry.functionExists(id) })
    val h = s.sql("SELECT md5prefix64('abc') AS h").as[Long].collect().head
    assert(h == HashUtil.md5Prefix64("abc"))
    assert(spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("md5prefix64")))
  }
}
