package graft.loader

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{DataFormat, LoadConfig}

/** Format-aware reading of a batch's files — the Spark-native equivalent
  * of the COPY format directives the reference assembles as SQL text
  * (`/root/reference/index.js:1157-1231`, SURVEY §2.1 S6-S10).
  *
  * Where the reference delegates parsing to Redshift, we hand the file
  * list straight to the matching `DataFrameReader`: the manifest IS the
  * `paths` argument. Compression (S10) needs no directive — Spark codecs
  * auto-detect by extension. Column pruning/pushdown stay available
  * because nothing here leaves the DataFrame API.
  */
object Formats {

  /** Whole-file bytes → plaintext bytes. Must capture only serializable
    * state — see `Keystore.fileDecryptor`.
    */
  type Decryptor = Array[Byte] => Array[Byte]

  /** Read one batch of files per the config. `schema` is the target
    * table's schema (the reference's "types belong to the target table",
    * SURVEY §1.2); pass None for JSON 'auto'-style inference.
    *
    * `decrypt` is the S11 encrypted-file seam (`index.js:1206-1221`,
    * where the symmetric master key rides into COPY as ENCRYPTED):
    * when present, each file's bytes are decrypted executor-side before
    * parsing. Supported for the record-oriented formats (CSV/JSON) —
    * block formats (parquet/orc/avro) need random access inside the
    * envelope and are rejected loudly.
    */
  def read(spark: SparkSession, cfg: LoadConfig, paths: Seq[String],
           schema: Option[StructType], decrypt: Option[Decryptor] = None): DataFrame = {
    val df = decrypt match {
      case Some(d) => readEncrypted(spark, cfg, paths, schema, d)
      case None    => readPlain(spark, cfg, paths, schema)
    }
    withShims(projectJsonPaths(df, cfg), cfg)
  }

  /** The reader both inputs share: target schema, the config's reader
    * options, then the CSV directives. */
  private def reader(spark: SparkSession, cfg: LoadConfig,
                     schema: Option[StructType]): DataFrameReader = {
    val r = spark.read
    schema.foreach(r.schema)
    cfg.readerOptions.foreach { case (k, v) => r.option(k, v) }
    if (cfg.dataFormat == DataFormat.Csv)
      r.option("delimiter", cfg.csvDelimiter)
        .option("header", cfg.ignoreCsvHeader.toString)
    r
  }

  private def readPlain(spark: SparkSession, cfg: LoadConfig, paths: Seq[String],
                        schema: Option[StructType]): DataFrame = {
    val r = reader(spark, cfg, schema)
    cfg.dataFormat match {
      case DataFormat.Csv  => r.csv(paths: _*)
      case DataFormat.Json => r.json(paths: _*)
      case DataFormat.Avro =>
        // avro-core container reader (spark-avro module not in the distro);
        // the writer schema travels in each file's header, so the
        // target-table schema is applied as a projection afterwards.
        val raw = graft.sources.AvroReader.read(spark, paths)
        schema.map(st => raw.select(st.fieldNames.map(col).toSeq: _*)).getOrElse(raw)
      case DataFormat.Parquet => r.parquet(paths: _*)
      case DataFormat.Orc     => r.orc(paths: _*)
    }
  }

  /** Encrypted-file path: binaryFile scan → per-file decrypt (+ gunzip
    * if the plaintext is gzip-framed) → text lines → format parser. One
    * decrypt per file inside the task; the bytes never visit the driver.
    */
  private def readEncrypted(spark: SparkSession, cfg: LoadConfig, paths: Seq[String],
                            schema: Option[StructType], decrypt: Decryptor): DataFrame = {
    import spark.implicits._
    require(cfg.dataFormat == DataFormat.Csv || cfg.dataFormat == DataFormat.Json,
      s"encrypted-file load supports CSV/JSON, not ${cfg.dataFormat.name} " +
        "(block formats need random access inside the encryption envelope)")
    val lines: org.apache.spark.sql.Dataset[String] =
      spark.read.format("binaryFile").load(paths: _*)
        .select(col("content")).as[Array[Byte]]
        .flatMap { enc =>
          val plain0 = decrypt(enc)
          // S10 composes with S11: compression is applied before
          // encryption, so gunzip AFTER decrypting (gzip magic 1f 8b)
          val plain =
            if (plain0.length >= 2 && (plain0(0) & 0xFF) == 0x1F && (plain0(1) & 0xFF) == 0x8B) {
              val in = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(plain0))
              try in.readAllBytes() finally in.close()
            } else plain0
          new String(plain, "UTF-8").linesIterator
        }
    val r = reader(spark, cfg, schema)
    if (cfg.dataFormat == DataFormat.Csv) r.csv(lines) else r.json(lines)
  }

  /** jsonpaths-file parity (`index.js:1178-1185`): an ordered list of
    * column paths (e.g. `$.a.b`) projected positionally onto the target
    * column order. Null/absent → 'auto' (by-name) mapping.
    */
  def projectJsonPaths(df: DataFrame, cfg: LoadConfig): DataFrame =
    cfg.jsonPaths match {
      case Some(paths) if paths.nonEmpty =>
        val cols = paths.zipWithIndex.map { case (p, i) =>
          // "$.a.b" → nested field reference a.b
          val fieldPath = p.stripPrefix("$").stripPrefix(".")
          col(fieldPath).as(s"_c$i")
        }
        df.select(cols: _*)
      case _ => df
    }

  /** COPY-option shims (S10): EMPTYASNULL / BLANKSASNULL become Column
    * expressions over string columns — Catalyst folds these into the scan
    * projection, so they cost nothing extra at scale.
    */
  def withShims(df: DataFrame, cfg: LoadConfig): DataFrame = {
    if (!cfg.emptyAsNull && !cfg.blanksAsNull) df
    else {
      val shimmed = df.schema.fields.map { f =>
        if (f.dataType.typeName == "string") {
          val c = col(f.name)
          val emptied = if (cfg.emptyAsNull) when(c === "", null).otherwise(c) else c
          val blanked =
            if (cfg.blanksAsNull) when(trim(c) === "", null).otherwise(emptied) else emptied
          blanked.as(f.name)
        } else col(f.name)
      }
      df.select(shimmed.toSeq: _*)
    }
  }

  /** Explicit column-list reordering (`index.js:1157-1161`): COPY t (a,b)
    * semantics — project the read columns positionally onto the target's
    * declared column names.
    */
  def applyColumnList(df: DataFrame, columnList: Option[Seq[String]]): DataFrame =
    columnList match {
      case Some(names) if names.nonEmpty =>
        require(names.size <= df.columns.length,
          s"columnList has ${names.size} names but batch data has ${df.columns.length} columns")
        df.select(df.columns.take(names.size).zip(names).map {
          case (from, to) => col(from).as(to)
        }.toSeq: _*)
      case _ => df
    }
}
