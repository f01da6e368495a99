package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLException,
  SQLFeatureNotSupportedException}
import java.util.Properties

import scala.collection.mutable

/** A JDBC driver for `jdbc:graftrb:<derby url>` whose connections are
  * embedded Derby connections on which `rollback()` throws — the
  * behaviour of a connection that died mid-transaction — so a test can
  * check that a failed sync reports its own error, not the rollback's.
  * [[release]] rolls back and closes the real connections afterwards.
  */
class RollbackFailingDriver extends Driver {
  def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val real = DriverManager.getConnection(
        "jdbc:derby:" + url.stripPrefix(RollbackFailingDriver.Prefix), info)
      RollbackFailingDriver.opened.synchronized(RollbackFailingDriver.opened += real)
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
        new InvocationHandler {
          def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            if (m.getName == "rollback" && (args == null || args.isEmpty))
              throw new SQLException("rollback failed: connection is dead")
            else
              try { if (args == null) m.invoke(real) else m.invoke(real, args: _*) }
              catch { case e: InvocationTargetException => throw e.getCause }
        }).asInstanceOf[Connection]
    }
  def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(RollbackFailingDriver.Prefix)
  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger = throw new SQLFeatureNotSupportedException()
}

object RollbackFailingDriver {
  val Prefix = "jdbc:graftrb:"
  private val opened = mutable.ArrayBuffer[Connection]()

  /** The `jdbc:graftrb:` form of an embedded Derby `url`. */
  def url(derbyUrl: String): String = synchronized {
    if (!DriverManager.drivers().anyMatch(_.isInstanceOf[RollbackFailingDriver]))
      DriverManager.registerDriver(new RollbackFailingDriver)
    Prefix + derbyUrl.stripPrefix("jdbc:derby:")
  }

  /** Rolls back and closes every real connection handed out so far. */
  def release(): Unit = opened.synchronized {
    opened.foreach { c =>
      try { if (!c.isClosed) { c.rollback(); c.close() } } catch { case _: SQLException => () }
    }
    opened.clear()
  }
}
