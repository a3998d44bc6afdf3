package graft.core

/** Database-dialect dispatch for the fieldwork extracts (SURVEY.md §2.1
  * S1/S2 completeness): the reference picks an ODBC driver and a
  * dialect-specific query text from the database FILE EXTENSION —
  * `.mdb` / `.accdb` -> MS Access, `.FDB` -> Firebird
  * (`/root/reference/src/export_from_fieldmap/query_fieldmap.Rmd:139-154`) —
  * and lowercases the returned column names before any downstream step
  * (`query_fieldmap.Rmd:156`). INBOVEG extracts come from SQL Server.
  *
  * Spark-side the same dispatch renders a JDBC url + driver class +
  * connection properties per dialect. The SQL text differences the
  * reference maintains by hand (`query_gridpoints_accdb` vs
  * `query_gridpoints_fb`) are captured by the identifier-quoting and
  * pagination renderers here, so one query template serves every
  * backend. None of the production drivers (UCanAccess, Jaybird,
  * mssql-jdbc) ship in this sandbox — url/property rendering is
  * spec-tested as strings, and the full `Source.load` path runs against
  * embedded Derby, which exercises the identical Spark JDBC machinery.
  */
sealed trait DbDialect {
  def name: String

  /** JDBC driver class the url resolves through. */
  def driverClass: String

  /** JDBC url for a database file path or `host/database` locator. */
  def jdbcUrl(db: String): String

  /** Extra `spark.read.format("jdbc")` options (credentials, driver). */
  def connectionProperties: Map[String, String] =
    Map("driver" -> driverClass)

  /** Dialect identifier quoting (Access/SQL Server bracket, SQL
    * standard double-quote elsewhere). */
  def quoteIdent(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  /** Render `SELECT <cols> FROM <table>` limited to the first n rows —
    * the one syntactic fork the reference's per-dialect query texts
    * actually contain (Access/SQL Server TOP vs Firebird ROWS). */
  def limitSelect(cols: String, table: String, n: Int): String
}

/** MS Access (.mdb / .accdb) via the UCanAccess pure-Java driver. */
case object AccessDialect extends DbDialect {
  val name = "access"
  val driverClass = "net.ucanaccess.jdbc.UcanaccessDriver"
  def jdbcUrl(db: String): String = s"jdbc:ucanaccess://$db"
  override def quoteIdent(ident: String): String = s"[${ident.replace("]", "]]")}]"
  def limitSelect(cols: String, table: String, n: Int): String =
    s"SELECT TOP $n $cols FROM $table"
}

/** Firebird (.fdb) via Jaybird; the reference's connection string
  * carries the stock SYSDBA credentials, which land in properties
  * rather than the url here. */
case object FirebirdDialect extends DbDialect {
  val name = "firebird"
  val driverClass = "org.firebirdsql.jdbc.FBDriver"
  def jdbcUrl(db: String): String = s"jdbc:firebirdsql:embedded:$db"
  override def connectionProperties: Map[String, String] =
    Map("driver" -> driverClass, "user" -> "SYSDBA", "password" -> "masterkey")
  def limitSelect(cols: String, table: String, n: Int): String =
    s"SELECT $cols FROM $table ROWS $n"
}

/** SQL Server (INBOVEG warehouse) — locator is `host;databaseName=db`. */
case object SqlServerDialect extends DbDialect {
  val name = "sqlserver"
  val driverClass = "com.microsoft.sqlserver.jdbc.SQLServerDriver"
  def jdbcUrl(db: String): String = s"jdbc:sqlserver://$db"
  override def quoteIdent(ident: String): String = s"[${ident.replace("]", "]]")}]"
  def limitSelect(cols: String, table: String, n: Int): String =
    s"SELECT TOP $n $cols FROM $table"
}

/** Embedded Derby — the in-sandbox integration dialect (no external
  * driver needed; ships with the JDK test classpath). */
case object DerbyDialect extends DbDialect {
  val name = "derby"
  val driverClass = "org.apache.derby.jdbc.EmbeddedDriver"
  def jdbcUrl(db: String): String = s"jdbc:derby:$db"
  def limitSelect(cols: String, table: String, n: Int): String =
    s"SELECT $cols FROM $table FETCH FIRST $n ROWS ONLY"
}

object DbDialects {
  /** Extension dispatch, mirroring `query_fieldmap.Rmd:139-154`
    * (case-insensitive — the reference's Firebird files are `.FDB`). */
  def forDatabaseFile(path: String): DbDialect = {
    val ext = path.lastIndexOf('.') match {
      case -1 => ""
      case i  => path.substring(i + 1).toLowerCase
    }
    ext match {
      case "mdb" | "accdb" => AccessDialect
      case "fdb"           => FirebirdDialect
      case "db"            => DerbyDialect
      case other => throw new IllegalArgumentException(
        s"no dialect for database file '$path' (extension '$other'); " +
          "known: .mdb/.accdb (Access), .fdb (Firebird), .db (Derby)")
    }
  }
}
