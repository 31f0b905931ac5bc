package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, SQLException}
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Embedded Derby endpoints and the seeded source fixtures.
  *
  * Storage mode: every database is in-memory (`jdbc:derby:memory:`), so no
  * run touches a disk page and the flush policy is the same on every run:
  * nothing is ever flushed. `derby.database.sqlAuthorization` is on for
  * every database so table grants exist and migrate. The fixtures are built
  * with plain JDBC batches, never through the program under test. */
object Derby {

  /** What a fixture should land on a target: row counts per table and the
    * catalog objects a full migration recreates. */
  final case class Expect(rows: Map[String, Long], views: Int = 0,
      indexes: Int = 0, functions: Int = 0, grants: Int = 0) {
    def tables: Int = rows.size
    def objects: Int = tables + views + indexes + functions + grants
    def totalRows: Long = rows.values.sum
  }

  final case class Fixture(url: String, tables: Seq[String], expect: Expect)

  def configure(work: Path): Unit = {
    Files.createDirectories(work)
    System.setProperty("derby.system.home", work.toString)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    System.setProperty("derby.database.sqlAuthorization", "true")
  }

  def url(name: String): String = s"jdbc:derby:memory:$name"

  /** Create an empty in-memory database and return its URL. */
  def create(name: String): String = {
    DriverManager.getConnection(url(name) + ";create=true").close()
    url(name)
  }

  /** Drop an in-memory database; Derby reports success as SQLState 08006. */
  def drop(name: String): Unit =
    try DriverManager.getConnection(url(name) + ";drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  def withConn[A](u: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(u)
    try f(c) finally c.close()
  }

  def count(c: Connection, sql: String): Long = {
    val rs = c.createStatement().executeQuery(sql)
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }

  private def insertAll(c: Connection, table: String, width: Int,
      rows: Iterator[Array[AnyRef]]): Unit = {
    val ps = c.prepareStatement(
      s"INSERT INTO $table VALUES (${Seq.fill(width)("?").mkString(", ")})")
    var n = 0
    rows.foreach { r =>
      var i = 0
      while (i < width) { ps.setObject(i + 1, r(i)); i += 1 }
      ps.addBatch(); n += 1
      if (n % 2000 == 0) ps.executeBatch()
    }
    ps.executeBatch()
    ps.close()
  }

  // ------------------------------------------------------------ bulk-jdbc

  /** Corpus tables the bulk-jdbc source holds. */
  val BulkTables: Seq[String] = Seq("customer", "orders", "lineitem")

  /** Corpus rows, read once per process, converted to JDBC values. */
  final case class Corpus(schemas: Map[String, StructType],
      rows: Map[String, IndexedSeq[Array[AnyRef]]])

  def loadCorpus(spark: SparkSession, dataDir: String): Corpus = {
    val frames = BulkTables.map(t => t -> spark.read.parquet(s"$dataDir/$t.parquet"))
    Corpus(frames.map { case (t, df) => t -> df.schema }.toMap,
      frames.map { case (t, df) =>
        t -> df.collect().map(r => jdbcValues(df.schema, r)).toIndexedSeq
      }.toMap)
  }

  private def jdbcValues(schema: StructType, r: Row): Array[AnyRef] =
    Array.tabulate(schema.size) { i =>
      if (r.isNullAt(i)) null
      else r.get(i) match {
        case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
        case t: java.time.Instant => java.sql.Timestamp.from(t)
        case v => v.asInstanceOf[AnyRef]
      }
    }

  private def derbyType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR(200)"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case other => throw new IllegalArgumentException(s"no Derby type for $other")
  }

  /** Seed a Derby source with the corpus tables, each inserted in an order
    * the seed permutes. */
  def bulkSource(name: String, corpus: Corpus, seed: Long): Fixture = {
    val u = create(name)
    val rng = new Random(seed)
    withConn(u) { c =>
      c.setAutoCommit(false)
      BulkTables.foreach { t =>
        val schema = corpus.schemas(t)
        c.createStatement().execute(s"CREATE TABLE $t (" +
          schema.fields.map(f => s"${f.name} ${derbyType(f.dataType)}").mkString(", ") + ")")
        insertAll(c, t, schema.size, rng.shuffle(corpus.rows(t)).iterator)
      }
      c.commit()
    }
    Fixture(u, BulkTables.map(_.toUpperCase),
      Expect(BulkTables.map(t => t.toUpperCase -> corpus.rows(t).size.toLong).toMap))
  }

  // ------------------------------------------------------- schema-objects

  val ObjTables = 40
  val ObjRows = 500
  val ObjViews = 10
  val ObjIndexesPerTable = 3
  val ObjUsers: Seq[String] = Seq("U_READ", "U_WRITE", "U_AUDIT")
  val ObjGrants = 6

  private val Functions = Seq(
    "F_ABS(X INTEGER) RETURNS INTEGER" -> "java.lang.Math.abs",
    "F_MAX(X INTEGER, Y INTEGER) RETURNS INTEGER" -> "java.lang.Math.max",
    "F_SQRT(X DOUBLE) RETURNS DOUBLE" -> "java.lang.Math.sqrt")

  private def tname(i: Int) = f"T_$i%02d"

  /** A control-plane-heavy source shaped like the reference's sample run:
    * 40 small tables of mixed INT/VARCHAR/DECIMAL/TIMESTAMP/SMALLINT
    * columns with a primary key, 10 two-table join views, 3 secondary
    * indexes per table, 3 Java functions and 6 table grants. The seed picks
    * column types, values, index columns, view joins and grant targets; the
    * object counts are fixed. */
  def objectsSource(name: String, seed: Long): Fixture = {
    val u = create(name)
    val rng = new Random(seed)
    val kinds = Seq("INTEGER", "VARCHAR", "DECIMAL", "TIMESTAMP", "SMALLINT")
    val epoch = java.sql.Timestamp.valueOf("2020-01-01 00:00:00").getTime
    def word(n: Int) = rng.alphanumeric.take(1 + rng.nextInt(n)).mkString
    withConn(u) { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      val cols = (1 to ObjTables).map { i =>
        val ncols = 4 + rng.nextInt(4)
        val kinds0 = Seq.tabulate(ncols)(j => kinds(if (j < kinds.size) j else rng.nextInt(kinds.size)))
        val specs = rng.shuffle(kinds0).zipWithIndex.map { case (k, j) =>
          val ty = k match {
            case "VARCHAR" => s"VARCHAR(${16 + rng.nextInt(48)})"
            case "DECIMAL" => s"DECIMAL(${9 + rng.nextInt(8)},2)"
            case other => other
          }
          (s"C${j + 1}", ty)
        }
        st.execute(s"CREATE TABLE ${tname(i)} (ID INTEGER NOT NULL PRIMARY KEY, " +
          specs.map { case (n, ty) => s"$n $ty" }.mkString(", ") + ")")
        val rows = (1 to ObjRows).iterator.map { id =>
          Integer.valueOf(id) +: specs.map { case (_, ty) =>
            val v: AnyRef =
              if (rng.nextInt(20) == 0) null
              else if (ty.startsWith("VARCHAR")) word(ty.drop(8).takeWhile(_.isDigit).toInt)
              else if (ty.startsWith("DECIMAL"))
                java.math.BigDecimal.valueOf(rng.nextInt(10000000).toLong, 2)
              else if (ty == "TIMESTAMP") new java.sql.Timestamp(epoch + rng.nextInt(1 << 30) * 1000L)
              else if (ty == "SMALLINT") java.lang.Short.valueOf(rng.nextInt(30000).toShort)
              else Integer.valueOf(rng.nextInt(1000000))
            v
          }.toArray
        }
        insertAll(c, tname(i), specs.size + 1, rows)
        specs.map(_._1)
      }
      cols.zipWithIndex.foreach { case (cs, i0) =>
        val picks = rng.shuffle(cs.toList)
        Seq(Seq(picks(0)), Seq(picks(1), picks(2)), Seq(picks(3))).zipWithIndex
          .foreach { case (on, k) =>
            st.execute(s"CREATE INDEX ${tname(i0 + 1)}_IX${k + 1} ON ${tname(i0 + 1)} (${on.mkString(", ")})")
          }
      }
      (1 to ObjViews).foreach { v =>
        val a = 1 + rng.nextInt(ObjTables)
        val b = 1 + (a + rng.nextInt(ObjTables - 1)) % ObjTables
        st.execute(f"CREATE VIEW V_$v%02d AS SELECT a.ID, a.C1 AS A_C1, b.C1 AS B_C1 " +
          s"FROM ${tname(a)} a JOIN ${tname(b)} b ON a.ID = b.ID WHERE a.ID <= ${100 + rng.nextInt(400)}")
      }
      Functions.foreach { case (sig, method) =>
        st.execute(s"CREATE FUNCTION $sig LANGUAGE JAVA PARAMETER STYLE JAVA NO SQL " +
          s"EXTERNAL NAME '$method'")
      }
      rng.shuffle((1 to ObjTables).toList).take(ObjGrants).zipWithIndex.foreach { case (t, k) =>
        st.execute(s"GRANT SELECT ON ${tname(t)} TO ${ObjUsers(k % ObjUsers.size)}")
      }
      c.commit()
    }
    val tables = (1 to ObjTables).map(tname)
    Fixture(u, tables, Expect(tables.map(_ -> ObjRows.toLong).toMap, views = ObjViews,
      indexes = ObjTables * ObjIndexesPerTable, functions = Functions.size, grants = ObjGrants))
  }

  /** Catalog objects present on a target, read from Derby's own system
    * tables (not through the program's catalog layer). */
  def objectsOn(u: String): Map[String, Long] = withConn(u) { c =>
    val user = "s.SCHEMANAME NOT LIKE 'SYS%' AND s.SCHEMANAME <> 'SQLJ' AND s.SCHEMANAME <> 'NULLID'"
    Map(
      "tables" -> count(c, "SELECT COUNT(*) FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s " +
        s"ON t.SCHEMAID = s.SCHEMAID WHERE t.TABLETYPE = 'T' AND $user"),
      "views" -> count(c, "SELECT COUNT(*) FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s " +
        s"ON t.SCHEMAID = s.SCHEMAID WHERE t.TABLETYPE = 'V' AND $user"),
      "indexes" -> count(c, "SELECT COUNT(*) FROM SYS.SYSCONGLOMERATES g JOIN SYS.SYSSCHEMAS s " +
        s"ON g.SCHEMAID = s.SCHEMAID WHERE g.ISINDEX AND $user AND g.CONGLOMERATEID NOT IN " +
        "(SELECT k.CONGLOMERATEID FROM SYS.SYSKEYS k)"),
      "functions" -> count(c, "SELECT COUNT(*) FROM SYS.SYSALIASES a JOIN SYS.SYSSCHEMAS s " +
        s"ON a.SCHEMAID = s.SCHEMAID WHERE a.ALIASTYPE = 'F' AND NOT a.SYSTEMALIAS AND $user"),
      "grants" -> count(c, "SELECT COUNT(*) FROM SYS.SYSTABLEPERMS p WHERE p.GRANTEE IN (" +
        ObjUsers.map(x => s"'$x'").mkString(", ") + ")"))
  }
}
