package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException, Statement}
import java.util.Properties
import java.util.logging.Logger

import org.apache.spark.TaskContext

/** A JDBC driver for `jdbc:perfbench:<url>` that delegates to the driver
  * of `jdbc:<url>` (embedded Derby here) and times what the sink does
  * through it: `commit` and every `execute*`, classified by the table the
  * statement touches. It also counts rollbacks, deadlock aborts (SQLState
  * 40001), compare-and-swap `UPDATE`s that matched no row, and rows
  * inserted against rows offered. Each record is linked to its
  * micro-batch through the task's `streaming.sql.batchId` local
  * property. Used only in the traced run. */
final class TracingDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean = url.startsWith(TracingJdbc.Prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else TracingJdbc.wrap(DriverManager.getConnection(TracingJdbc.target(url), info))
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getGlobal
}

object TracingJdbc {
  val Prefix = "jdbc:perfbench:"
  def target(url: String): String = "jdbc:" + url.stripPrefix(Prefix)
  def traced(url: String): String = Prefix + url.stripPrefix("jdbc:")

  private lazy val registered: Unit = DriverManager.registerDriver(new TracingDriver)
  def register(): Unit = registered

  val Tables: Seq[String] =
    Seq("summaries", "ati", "cti", "cis2_deltas", "cis2_tokens", "bindings")

  private val TableRe =
    """(?is)^\s*(?:insert\s+into|update|delete\s+from|select\b.*?\bfrom)\s+(\w+)""".r
  def tableOf(sql: String): String =
    TableRe.findFirstMatchIn(sql).map(_.group(1).toLowerCase).getOrElse("other")

  private def batchOf: String =
    Option(TaskContext.get()).flatMap(tc => Ops.streamBatch(tc.getLocalProperty))
      .getOrElse("none")

  private def isDeadlock(e: Throwable): Boolean = e match {
    case s: SQLException =>
      Iterator.iterate[Throwable](s)(_.getCause).takeWhile(_ != null)
        .exists { case q: SQLException => q.getSQLState == "40001"; case _ => false }
    case _ => false
  }

  /** Invokes `m` on `target`, unwrapping reflection errors and counting
    * deadlock aborts. */
  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch {
      case e: InvocationTargetException =>
        if (isDeadlock(e.getCause)) Trace.add("jdbc.deadlocks")
        throw e.getCause
    }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  /** The `streaming.jdbc_*` per-layer figures from what the wrapper
    * recorded. */
  def report(res: Main.Result): Unit = {
    res.layer("streaming.jdbc_commits") = Trace.count("jdbc.commits")
    val commits = Trace.samplesOf("jdbc.commit_s")
    res.layer("streaming.jdbc_commit_p50_s") = Stats.median(commits)
    res.layer("streaming.jdbc_commit_p99_s") = Stats.quantile(commits, 0.99)
    Tables.foreach { t =>
      res.layer(s"streaming.jdbc_exec_s.$t") = Trace.count(s"jdbc.exec_ms.$t") / 1000.0
    }
    res.layer("streaming.jdbc_supply_s") = Trace.count("jdbc.exec_ms.cis2_tokens") / 1000.0
    res.layer("streaming.jdbc_cas_retries") = Trace.count("jdbc.cas_retries")
    res.layer("streaming.jdbc_rollbacks") = Trace.count("jdbc.rollbacks")
    res.layer("streaming.jdbc_deadlocks") = Trace.count("jdbc.deadlocks")
    res.layer("streaming.rows_inserted_share") =
      Trace.count("jdbc.rows_inserted") / math.max(1.0, Trace.count("jdbc.rows_offered"))
  }

  def wrap(c: Connection): Connection = proxy(classOf[Connection], new InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        wrapStatement(call(c, m, args).asInstanceOf[Statement], classOf[PreparedStatement],
          Some(args(0).asInstanceOf[String]))
      case "createStatement" =>
        wrapStatement(call(c, m, args).asInstanceOf[Statement], classOf[Statement], None)
      case "commit" =>
        val s = Trace.nowMs
        val r = call(c, m, args)
        val e = Trace.nowMs
        Trace.add("jdbc.commits")
        Trace.sample("jdbc.commit_s", (e - s) / 1000.0)
        Trace.record("jdbc", "commit", batchOf, s, e)
        r
      case "rollback" =>
        Trace.add("jdbc.rollbacks")
        call(c, m, args)
      case _ => call(c, m, args)
    }
  })

  private def wrapStatement[T <: Statement](st: Statement, iface: Class[T],
                                            prepared: Option[String]): T = {
    var pending = 0
    proxy(iface, new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        val name = m.getName
        if (name == "addBatch") pending += 1
        if (!name.startsWith("execute")) return call(st, m, args)
        val sql = prepared.orElse(Option(args).flatMap(_.headOption).collect { case s: String => s })
          .getOrElse("")
        val table = tableOf(sql)
        val insert = sql.trim.toLowerCase.startsWith("insert")
        val s = Trace.nowMs
        val r = call(st, m, args)
        val e = Trace.nowMs
        Trace.add(s"jdbc.exec_ms.$table", e - s)
        Trace.record("jdbc", s"exec:$table", batchOf, s, e)
        (name, r) match {
          case ("executeBatch", counts: Array[Int]) =>
            if (insert) {
              Trace.add("jdbc.rows_offered", pending.toDouble)
              Trace.add("jdbc.rows_inserted", counts.count(_ > 0).toDouble)
            }
            pending = 0
          case ("executeUpdate", n: Integer) =>
            if (insert) {
              Trace.add("jdbc.rows_offered")
              Trace.add("jdbc.rows_inserted", if (n > 0) 1.0 else 0.0)
            } else if (table == "cis2_tokens" && n == 0) Trace.add("jdbc.cas_retries")
          case _ => ()
        }
        r
      }
    })
  }
}
