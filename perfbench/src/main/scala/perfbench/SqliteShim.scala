package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong
import java.util.logging.Logger

/** A `java.sql.Driver` that accepts `jdbc:sqlite:<path>` and opens the
  * embedded Derby database at `<path>`, so `Backfill.run` and
  * `Backfill.runStatistics` read the generated recorder unmodified (no
  * SQLite driver ships with the Spark runtime).
  *
  * With `countRows` on, every result set it hands out counts the rows it
  * returns into [[SqliteShim.rowsReturned]], which is how the traced run
  * measures how often one operation re-reads the recorder. */
final class SqliteShim extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(SqliteShim.Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val derby = "jdbc:derby:" + url.stripPrefix(SqliteShim.Prefix)
      val c = DriverManager.getConnection(derby, info)
      if (SqliteShim.countRows) SqliteShim.counting(c, classOf[Connection]) else c
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getLogger("perfbench")
}

object SqliteShim {
  val Prefix = "jdbc:sqlite:"
  @volatile var countRows = false
  val rowsReturned = new AtomicLong()

  private lazy val registered: Unit = {
    // load Derby's embedded driver into DriverManager before the shim
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    DriverManager.registerDriver(new SqliteShim)
  }

  def register(): Unit = registered

  /** Wrap a JDBC object so statements it creates, and result sets those
    * return, count rows on `next()`. */
  private def counting[T](target: AnyRef, iface: Class[T]): T =
    Proxy.newProxyInstance(classOf[SqliteShim].getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val a = if (args == null) Array.empty[AnyRef] else args
          val r = try m.invoke(target, a: _*)
          catch { case e: InvocationTargetException => throw e.getCause }
          r match {
            case rs: ResultSet => counting(rs, classOf[ResultSet])
            case ps: java.sql.PreparedStatement =>
              counting(ps, classOf[java.sql.PreparedStatement])
            case st: Statement => counting(st, classOf[Statement])
            case b: java.lang.Boolean if m.getName == "next" &&
              target.isInstanceOf[ResultSet] =>
              if (b) rowsReturned.incrementAndGet()
              b
            case other => other
          }
        }
      }).asInstanceOf[T]
}
