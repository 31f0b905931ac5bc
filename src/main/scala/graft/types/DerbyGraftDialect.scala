package graft.types

import java.sql.{SQLException, Types}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** Spark's Derby dialect with one change on the WRITE side: a NULL string
  * binds as `VARCHAR`, not `CLOB`.
  *
  * Spark maps `StringType` to `CLOB` for Derby, and binds a NULL through
  * `setNull(i, CLOB)`. Derby rejects that for a `VARCHAR` column ("An
  * attempt was made to get a data value of type 'VARCHAR' from a data value
  * of type 'CLOB'"), and `VARCHAR(4000)` is what
  * [[graft.ddl.DdlConverter.ddlForSchema]] creates, so every table with a
  * NULL in a string column failed its copy. Derby accepts a `VARCHAR` NULL
  * for `VARCHAR`, `CHAR`, `LONG VARCHAR` and `CLOB` columns alike. Tables
  * that Spark itself creates keep their `CLOB` column type.
  *
  * Everything else is delegated to the built-in dialect, which
  * [[install]] replaces in the registry (registering both would build an
  * `AggregatedDialect`, which drops Derby's `FETCH FIRST` limit clause and
  * function pushdown). The overrides below are exactly the methods Spark's
  * Derby dialect declares; `TransferSpec` checks that no new one is missed.
  */
final class DerbyGraftDialect private (base: JdbcDialect) extends JdbcDialect {

  override def canHandle(url: String): Boolean = base.canHandle(url)

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case _: StringType => base.getJDBCType(dt).map(_.copy(jdbcNullType = Types.VARCHAR))
    case _ => base.getJDBCType(dt)
  }

  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
      md: MetadataBuilder): Option[DataType] =
    base.getCatalystType(sqlType, typeName, size, md)

  override def classifyException(e: Throwable, condition: String,
      messageParameters: Map[String, String], description: String,
      isRuntime: Boolean): Throwable with SparkThrowable =
    base.classifyException(e, condition, messageParameters, description, isRuntime)

  override def isSupportedFunction(funcName: String): Boolean =
    base.isSupportedFunction(funcName)
  override def isObjectNotFoundException(e: SQLException): Boolean =
    base.isObjectNotFoundException(e)
  override def isSyntaxErrorBestEffort(e: SQLException): Boolean =
    base.isSyntaxErrorBestEffort(e)
  override def isCascadingTruncateTable(): Option[Boolean] =
    base.isCascadingTruncateTable()
  override def renameTable(oldTable: Identifier, newTable: Identifier): String =
    base.renameTable(oldTable, newTable)
  override def getTableCommentQuery(table: String, comment: String): String =
    base.getTableCommentQuery(table, comment)
  override def getUpdateColumnNullabilityQuery(tableName: String,
      columnName: String, isNullable: Boolean): String =
    base.getUpdateColumnNullabilityQuery(tableName, columnName, isNullable)
  override def getLimitClause(limit: Integer): String = base.getLimitClause(limit)
}

object DerbyGraftDialect {
  private var installed = false

  /** Swap Spark's Derby dialect for [[DerbyGraftDialect]], once per JVM.
    * The wrapper is registered before the base is removed, so a Derby URL
    * never resolves to no dialect while the swap runs. */
  def install(): Unit = synchronized {
    if (!installed) {
      val base = JdbcDialects.get("jdbc:derby:")
      JdbcDialects.registerDialect(new DerbyGraftDialect(base))
      JdbcDialects.unregisterDialect(base)
      installed = true
    }
  }
}
