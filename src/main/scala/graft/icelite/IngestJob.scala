package graft.icelite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV -> IceLite ingestion pipeline (the `csv_to_iceberg_pipeline` of the
  * reference, `bot_iceberg_loader.py:371-463`, SURVEY.md §3.1):
  * resolve sources (remote / glob / local) -> Spark CSV parse with schema
  * inference (header, multiLine for quoted newlines) -> normalize onto the
  * 8-type system -> create-or-replace table + snapshot commit.
  *
  * A load reads its CSV files once per distinct header line: a merged load
  * of any number of files under H headers runs 2H CSV jobs (header, then
  * inference) before its write, and no job after the commit.
  *
  * Distribution shape: the driver resolves names and commits metadata;
  * executors parse CSV partitions and write parquet — the 100 TB-scalable
  * version of the reference's single-process loop. (`multiLine` CSVs are
  * not input-splittable; per-file parallelism still applies, and the option
  * can be disabled for newline-free sources.)
  */
final case class IngestConfig(
    source: String,                    // local path, URL, or glob dir
    globPattern: Option[String] = None,
    namespace: String = "default",
    explicitTableName: Option[String] = None, // honored only for single-file loads
    mergeGlob: Boolean = false,        // reference S16 flag — implemented properly here
    pluralizeNames: Boolean = false,   // reference ICE_PLURALIZE_TABLE default

    multiLine: Boolean = true
)

final case class IngestResult(namespace: String, table: String, rows: Long, location: String)

final class IngestJob(spark: SparkSession, catalog: FsCatalog, tmpDir: String) {

  /** First line of a file: the CSV header the files are grouped by (a
    * quoted header with an embedded newline reads up to its first line
    * break). */
  private def headerLine(path: String): String = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Option(br.readLine()).getOrElse("")
    } finally in.close()
  }

  private def readCsv(paths: Seq[String], multiLine: Boolean): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("multiLine", multiLine.toString)
      .csv(paths: _*)
    TypeNormalizer.normalize(df)
  }

  def run(conf: IngestConfig): Seq[IngestResult] = {
    val files = SourceResolver.filesToProcess(conf.source, conf.globPattern, tmpDir)
    if (files.isEmpty) return Seq.empty
    catalog.createNamespace(conf.namespace)

    if (conf.mergeGlob && files.size > 1) {
      val name = conf.explicitTableName.getOrElse(
        NameResolver.tableNameFor(files.head._2, conf.pluralizeNames))
      Seq(load(conf.namespace, name, files.map(_._1), conf.multiLine))
    } else {
      // one table per file; explicit name only honored for single-file loads
      files.map { case (path, fileName) =>
        val name =
          if (files.size == 1 && conf.explicitTableName.isDefined) conf.explicitTableName.get
          else NameResolver.tableNameFor(fileName, conf.pluralizeNames)
        load(conf.namespace, name, Seq(path), conf.multiLine)
      }
    }
  }

  /** One table from `paths`: one CSV read per distinct header line, over
    * that header's files, in order of first appearance, merged by name
    * with null-fill. Spark's multi-path CSV read matches columns by
    * POSITION, so only files whose header lines are identical may share a
    * read; a drifted header gets a read of its own, and `unionByName`
    * lines the reads up (the first read's columns, then the ones later
    * reads add). A column one read infers as string and another as
    * anything else is read as string by all of them: the union's type
    * coercion would otherwise widen it to the other type and fail the
    * load on the first string value. The row count comes from the new
    * snapshot's manifests; the table is scanned only when they cannot
    * answer. */
  private def load(ns: String, name: String, paths: Seq[String], multiLine: Boolean): IngestResult = {
    import org.apache.spark.sql.types.StringType
    val headers = paths.map(headerLine)
    val reads = headers.distinct
      .map(h => readCsv(paths.zip(headers).collect { case (p, `h`) => p }, multiLine))
    val key: String => String =
      if (spark.sessionState.conf.caseSensitiveAnalysis) identity
      else _.toLowerCase(java.util.Locale.ROOT)
    val fields = reads.flatMap(_.schema.fields)
    val mixed = fields.groupBy(f => key(f.name)).collect {
      case (k, fs) if fs.exists(_.dataType == StringType) && fs.exists(_.dataType != StringType) => k
    }.toSet
    val df = reads.map { r =>
      val casts = r.schema.fields.collect {
        case f if mixed(key(f.name)) && f.dataType != StringType =>
          f.name -> r.col(s"`${f.name.replace("`", "``")}`").cast(StringType)
      }
      if (casts.isEmpty) r else r.withColumns(casts.toMap)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val t = catalog.createOrReplaceTable(ns, name, df)
    val rows = t.metadata.currentSnapshot.flatMap(t.statsRowCount).getOrElse(t.scan().count())
    IngestResult(ns, name, rows, t.location.toString)
  }
}
