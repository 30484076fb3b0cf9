package perfbench

import java.sql.{DriverManager, SQLException}

/** Boots an embedded Derby database (running log recovery if its last
  * user exited without a shutdown) and shuts it down cleanly, so every
  * copy of it starts from the same closed state.
  *
  * Usage: DerbyClose <database directory>
  */
object DerbyClose {
  def main(args: Array[String]): Unit = {
    DriverManager.getConnection(s"jdbc:derby:${args(0)}").close()
    try DriverManager.getConnection(s"jdbc:derby:${args(0)};shutdown=true")
    catch { case e: SQLException if e.getSQLState == "08006" => () }
  }
}
