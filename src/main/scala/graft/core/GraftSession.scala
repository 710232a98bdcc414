package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session entry point (≅ the reference's `RasgoQL` object, rasgoql/main.py:
  * 15-144): bind datasets, run raw SQL with the same destructive-keyword
  * guard, list catalog tables, start chains.
  */
final class GraftSession(val spark: SparkSession) {

  // every graft kernel is callable from spark.sql(...) in this session —
  // the embedded-path counterpart of the GraftExtensions config injection
  graft.functions.GraftFunctions.register(spark)

  // ---- FQTN handling (≅ reference parse/validate_fqtn + namespace magic,
  // rasgoql/data/base.py:120-190): Spark's 3-part form is
  // `catalog.database.table`; partial names fill from the session's
  // default namespace, mirroring magic_fqtn_handler.

  private var defaultNamespace: String =
    s"${spark.catalog.currentCatalog()}.${spark.catalog.currentDatabase}"

  /** Current `catalog.database` used to complete partial table names. */
  def namespace: String = defaultNamespace

  /** Change the default namespace (validated 2-part `catalog.database`,
    * ≅ change_namespace, base.py:195-205).
    */
  def changeNamespace(ns: String): Unit = {
    require(ns.matches("[^\\s.]+\\.[^\\s.]+"), s"'$ns' is not a well-formed namespace (catalog.database)")
    defaultNamespace = ns
  }

  /** Complete a 1/2/3-part table name to a full `catalog.database.table`
    * (≅ parse_fqtn with default_namespace, base.py:133-158). Malformed
    * names (empty parts, >3 parts, whitespace) fail loudly.
    */
  def resolveFqtn(name: String): String = {
    require(name.nonEmpty && !name.exists(_.isWhitespace) && !name.split("\\.", -1).exists(_.isEmpty),
      s"'$name' is not a well-formed table name")
    val Array(cat, db) = defaultNamespace.split("\\.", 2)
    name.count(_ == '.') match {
      case 0 => s"$cat.$db.$name"
      case 1 => s"$cat.$name"
      case 2 => name
      case _ => throw new IllegalArgumentException(s"'$name' is not a well-formed fqtn")
    }
  }

  /** Catalog type of a bound table: MANAGED / EXTERNAL / VIEW / TEMPORARY,
    * or UNKNOWN for names the catalog can't resolve (≅ the reference
    * Dataset's type sync + lenient check_table_type,
    * primitives/transforms.py:140-151, primitives/enums.py:39-62).
    */
  def tableType(name: String): String =
    try spark.catalog.getTable(boundName(name)).tableType
    catch { case _: Exception => "UNKNOWN" }

  /** Storage state of a bound name (≅ TableState, primitives/enums.py:18-36
    * + the `_dw_sync` on bind, transforms.py:140-151): IN_DW for
    * catalog-persisted tables/views, IN_MEMORY for session-scoped temp
    * views (the Spark analogue of the reference's not-yet-saved dataset),
    * UNKNOWN when the name doesn't resolve.
    */
  def tableState(name: String): String =
    try {
      if (spark.catalog.getTable(boundName(name)).tableType == "TEMPORARY") "IN_MEMORY"
      else "IN_DW"
    } catch { case _: Exception => "UNKNOWN" }

  /** Resolve a user-supplied name to something the catalog knows: temp
    * views and current-database names bind as-is; otherwise the default
    * namespace completes the name. Missing tables fail with the resolved
    * name and the known-table list, not a bare analysis error.
    */
  private def boundName(name: String): String =
    if (spark.catalog.tableExists(name)) name
    else {
      val full = resolveFqtn(name)
      if (!spark.catalog.tableExists(full))
        throw new NoSuchElementException(
          s"dataset '$name' not found (resolved to '$full'); known tables: " +
            listTables().mkString(", "))
      full
    }

  /** Bind a chain to an existing catalog table (≅ rql.dataset(fqtn)):
    * validates existence up front (metadata sync) and records the resolved
    * name as the chain's entry.
    */
  def dataset(table: String): Chain = {
    val resolved = boundName(table)
    Chain(spark, resolved, spark.table(resolved))
  }

  /** Bind a chain to a parquet path; registers a view so the SQL render face
    * has a referenceable name.
    */
  def datasetFromParquet(path: String, name: String): Chain = {
    val df = ParquetSource.read(spark, path)
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  /** Bind a chain to a CSV path (header + schema inference by default —
    * pass an explicit DDL schema at scale: inference scans the data).
    * Registers a view so the SQL render face has a referenceable name.
    */
  def datasetFromCsv(path: String, name: String, header: Boolean = true,
                     delimiter: String = ",", schemaDdl: Option[String] = None): Chain = {
    val r = spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
    val df = schemaDdl.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  /** Bind a chain to newline-delimited JSON (schema inferred unless a DDL
    * schema is passed — prefer explicit at scale for one-pass reads).
    */
  def datasetFromJson(path: String, name: String, schemaDdl: Option[String] = None): Chain = {
    val r = spark.read
    val df = schemaDdl.fold(r)(s => r.schema(s)).json(path)
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  /** Bind a chain to an ORC path. */
  def datasetFromOrc(path: String, name: String): Chain = {
    val df = spark.read.orc(path)
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  /** Bind a chain to raw text — the ingest face for an unstructured
    * corpus. One row per LINE by default; `wholeFile = true` reads one
    * row per FILE (Spark's `wholetext` — the one-document-per-file corpus
    * layout; a multi-gigabyte single file then lands in one row, so split
    * such corpora into files before reading at scale).
    */
  def datasetFromText(path: String, name: String, textCol: String = "text",
                      wholeFile: Boolean = false): Chain = {
    val df = spark.read.option("wholetext", wholeFile.toString).text(path)
      .withColumnRenamed("value", textCol)
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  /** Ingest a local DataFrame as a table (≅ dataset_from_df, main.py:62-85). */
  def datasetFromDf(df: DataFrame, name: String, overwrite: Boolean = false): Chain = {
    df.write.mode(if (overwrite) "overwrite" else "errorifexists")
      .format("parquet").saveAsTable(name)
    dataset(name)
  }

  /** Raw SQL with the reference's injection guard (`is_scary_sql`,
    * rasgoql/utils/sql.py:30-38): destructive keywords require an explicit
    * acknowledgment.
    */
  def query(sql: String, acknowledgeRisk: Boolean = false): DataFrame = {
    if (isScarySql(sql) && !acknowledgeRisk)
      throw new IllegalArgumentException(
        "query contains a destructive keyword (DELETE/TRUNCATE/DROP/ALTER/" +
          "UPDATE/INSERT/MERGE); pass acknowledgeRisk=true to run it")
    spark.sql(sql)
  }

  def queryIntoLocal(sql: String, acknowledgeRisk: Boolean = false): Array[org.apache.spark.sql.Row] =
    query(sql, acknowledgeRisk).collect()

  def isScarySql(sql: String): Boolean = {
    val words = sql.toUpperCase.split("[^A-Z]+").toSet
    Set("DELETE", "TRUNCATE", "DROP", "ALTER", "UPDATE", "INSERT", "MERGE")
      .exists(words.contains)
  }

  def listTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  // ---- user-defined transform registry (≅ rql.define_transform /
  // list_transforms, main.py:87-144)

  private val userTransforms =
    scala.collection.mutable.LinkedHashMap.empty[String, TransformTemplate]

  /** Register a named, parameterized SQL transform usable as a chain step
    * (see [[TransformTemplate]]). Re-registering a name replaces it, like
    * the reference's latest-wins template serving.
    */
  def defineTransform(name: String, arguments: Seq[String], sqlTemplate: String,
                      description: String = ""): TransformTemplate = {
    val t = TransformTemplate(name, arguments, sqlTemplate, description)
    userTransforms(name) = t
    t
  }

  def listTransforms(): Seq[TransformTemplate] = userTransforms.values.toSeq

  def transform(name: String): TransformTemplate =
    userTransforms.getOrElse(name, throw new NoSuchElementException(
      s"no transform '$name' registered; known: ${userTransforms.keys.mkString(", ")}"))

  def getSchema(table: String): Seq[(String, String)] =
    spark.table(table).schema.fields.map(f => f.name -> f.dataType.sql).toSeq

  def getDdl(table: String): String = spark.table(table).schema.toDDL
}

object GraftSession {
  /** Local-mode builder with the scale-posture defaults this engine assumes:
    * AQE on (runtime re-plan: partition coalescing, skew-join splitting,
    * broadcast demotion/promotion), UTC session, shuffle partitions sized to
    * cores rather than the 200 default.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): GraftSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new GraftSession(spark)
  }

  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)
}
