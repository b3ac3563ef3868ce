package graft

import java.sql.{Connection, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.logging.Logger

/** A `java.sql.Driver` that accepts `jdbc:sqlite:<path>` and opens the
  * embedded Derby database at `<path>` (`memory:<name>` works too), so
  * `Backfill.run` and `Backfill.runStatistics` read a seeded recorder
  * unmodified: no SQLite driver ships with the Spark runtime. The class is
  * not named `org.sqlite.JDBC`, so `SqliteSourceSpec` still cancels. */
final class SqliteDerbyShim extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(SqliteDerbyShim.Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else DriverManager.getConnection(
      "jdbc:derby:" + url.stripPrefix(SqliteDerbyShim.Prefix), info)

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getLogger("graft")
}

object SqliteDerbyShim {
  val Prefix = "jdbc:sqlite:"

  private lazy val registered: Unit = {
    // load Derby's embedded driver into DriverManager before the shim
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    DriverManager.registerDriver(new SqliteDerbyShim)
  }

  def register(): Unit = registered
}
