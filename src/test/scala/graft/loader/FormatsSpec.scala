package graft.loader

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.GraftSession

/** Format directives coverage (S6-S10): JSON auto + jsonpaths, Avro,
  * gzip-compressed CSV, header skip, EMPTYASNULL/BLANKSASNULL shims.
  */
class FormatsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def tmp(name: String, content: Array[Byte]): String = {
    val d = Files.createTempDirectory("graft-fmt")
    val p = d.resolve(name)
    Files.write(p, content)
    p.toString
  }

  test("JSON 'auto' reads by name; jsonpaths projects positionally (S8)") {
    val p = tmp("a.json",
      """{"a":{"b":1},"c":"x"}
        |{"a":{"b":2},"c":"y"}
        |""".stripMargin.getBytes)
    val auto = Formats.read(spark, LoadConfig("p", DataFormat.Json), Seq(p), None)
    assert(auto.count() == 2 && auto.columns.toSet == Set("a", "c"))

    val pathed = Formats.read(spark,
      LoadConfig("p", DataFormat.Json, jsonPaths = Some(Seq("$.a.b", "$.c"))), Seq(p), None)
    assert(pathed.columns.toSeq == Seq("_c0", "_c1"))
    assert(pathed.orderBy("_c0").as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("Avro round-trip via the avro-core container reader (S8)") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder, GenericData}

    val schema: Schema = SchemaBuilder.record("rec").fields()
      .requiredInt("id")
      .optionalString("name")                       // [null, string] union
      .name("tags").`type`().array().items().stringType().noDefault()
      .name("meta").`type`().record("meta_r").fields()
        .requiredLong("size").endRecord().noDefault()
      .endRecord()

    def rec(id: Int, name: String, tags: Seq[String], size: Long) = {
      val meta = new GenericRecordBuilder(schema.getField("meta").schema())
        .set("size", size).build()
      new GenericRecordBuilder(schema)
        .set("id", id).set("name", name)
        .set("tags", new GenericData.Array[String](
          schema.getField("tags").schema(),
          java.util.Arrays.asList(tags: _*)))
        .set("meta", meta).build()
    }

    val d = Files.createTempDirectory("graft-avro")
    val f = d.resolve("data.avro").toFile
    val w = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, f)
    w.append(rec(1, "a", Seq("x", "y"), 10L))
    w.append(rec(2, null, Seq(), 20L))
    w.close()

    val got = Formats.read(spark, LoadConfig("p", DataFormat.Avro), Seq(f.toString), None)
      .orderBy("id")
    assert(got.schema.fieldNames.toSeq == Seq("id", "name", "tags", "meta"))
    assert(got.schema("name").nullable)
    val rows = got.collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "a")
    assert(rows(0).getSeq[String](2) == Seq("x", "y"))
    assert(rows(0).getStruct(3).getLong(0) == 10L)
    assert(rows(1).isNullAt(1) && rows(1).getSeq[String](2).isEmpty)

    // target-schema projection path: column subset + order applied
    val projected = Formats.read(spark, LoadConfig("p", DataFormat.Avro),
      Seq(f.toString), Some(StructType(Seq(
        StructField("name", StringType), StructField("id", IntegerType)))))
    assert(projected.columns.toSeq == Seq("name", "id"))
    assert(projected.count() == 2)
  }

  test("Avro writer-schema drift resolves against the first file's schema (S8)") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}

    val v1: Schema = SchemaBuilder.record("rec").fields()
      .requiredInt("id").requiredString("name").endRecord()
    // drifted writer: fields REORDERED plus an extra field the reader
    // schema doesn't know — real Avro resolution handles both; a naive
    // first-file-StructType decode would mis-type or drop values
    val v2: Schema = SchemaBuilder.record("rec").fields()
      .requiredString("extra").requiredString("name").requiredInt("id").endRecord()

    val d = Files.createTempDirectory("graft-avro-drift")
    val f1 = d.resolve("a.avro").toFile
    val w1 = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](v1))
    w1.create(v1, f1)
    w1.append(new GenericRecordBuilder(v1).set("id", 1).set("name", "one").build())
    w1.close()
    val f2 = d.resolve("b.avro").toFile
    val w2 = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](v2))
    w2.create(v2, f2)
    w2.append(new GenericRecordBuilder(v2)
      .set("extra", "x").set("name", "two").set("id", 2).build())
    w2.close()

    val got = Formats.read(spark, LoadConfig("p", DataFormat.Avro),
      Seq(f1.toString, f2.toString), None).orderBy("id").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(got.map(_.getString(1)).toSeq == Seq("one", "two"))
    // partial consumption must not leak handles (close is on task
    // completion now): a limit(1) over both files completes cleanly
    val limited = Formats.read(spark, LoadConfig("p", DataFormat.Avro),
      Seq(f1.toString, f2.toString), None).limit(1).collect()
    assert(limited.length == 1)
  }

  test("Avro logical types map to date/timestamp/decimal (S8)") {
    import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}

    val dateS = LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    val tsMicrosS = LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    val decS = LogicalTypes.decimal(12, 3).addToSchema(Schema.create(Schema.Type.BYTES))
    val schema: Schema = SchemaBuilder.record("lrec").fields()
      .requiredInt("id")
      .name("d").`type`(dateS).noDefault()
      .name("ts").`type`(tsMicrosS).noDefault()
      .name("amount").`type`(decS).noDefault()
      .endRecord()

    val micros = 1723450000123456L // 2024-08-12T07:26:40.123456Z
    val unscaled = new java.math.BigDecimal("1234.567").unscaledValue().toByteArray
    val rec = new GenericRecordBuilder(schema)
      .set("id", 1)
      .set("d", 19947) // days since epoch = 2024-08-12
      .set("ts", micros)
      .set("amount", java.nio.ByteBuffer.wrap(unscaled))
      .build()

    val d = Files.createTempDirectory("graft-avro-lt")
    val f = d.resolve("lt.avro").toFile
    val w = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, f); w.append(rec); w.close()

    val got = Formats.read(spark, LoadConfig("p", DataFormat.Avro), Seq(f.toString), None)
    assert(got.schema("d").dataType == DateType)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.schema("amount").dataType == DecimalType(12, 3))
    val row = got.collect().head
    assert(row.getAs[java.sql.Date]("d").toLocalDate == java.time.LocalDate.ofEpochDay(19947))
    assert(row.getAs[java.sql.Timestamp]("ts").toInstant
      == java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
    assert(row.getAs[java.math.BigDecimal]("amount")
      .compareTo(new java.math.BigDecimal("1234.567")) == 0)
  }

  test("encrypted-file load: decrypt hook + gzip composition (S11/S10)") {
    val keyDir = Files.createTempDirectory("graft-s11-keys").toString
    val ks = graft.crypto.Keystore(keyDir)
    // file 1: plain CSV, encrypted
    val p1 = tmp("a.csv.enc", ks.encryptBytes("1|2\n3|4\n".getBytes))
    // file 2: gzip-then-encrypt (compression applied before encryption)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("5|6\n".getBytes); gz.close()
    val p2 = tmp("b.csv.gz.enc", ks.encryptBytes(bos.toByteArray))

    val schema = StructType(Seq(StructField("x", IntegerType), StructField("y", IntegerType)))
    val cfg = LoadConfig("p", DataFormat.Csv, csvDelimiter = "|")
    val got = Formats.read(spark, cfg, Seq(p1, p2), Some(schema),
      decrypt = Some(graft.crypto.Keystore.fileDecryptor(keyDir)))
    assert(got.orderBy("x").as[(Int, Int)].collect().toSeq == Seq((1, 2), (3, 4), (5, 6)))

    // tampered ciphertext must fail the load, not yield garbage rows
    val bad = ks.encryptBytes("9|9\n".getBytes); bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    val p3 = tmp("c.csv.enc", bad)
    intercept[org.apache.spark.SparkException] {
      Formats.read(spark, cfg, Seq(p3), Some(schema),
        decrypt = Some(graft.crypto.Keystore.fileDecryptor(keyDir))).collect()
    }
    // block formats rejected loudly
    intercept[IllegalArgumentException] {
      Formats.read(spark, LoadConfig("p", DataFormat.Parquet), Seq(p1), None,
        decrypt = Some(graft.crypto.Keystore.fileDecryptor(keyDir)))
    }
  }

  test("gzip CSV auto-detects by extension; header skip honored (S7/S10)") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("col_a|col_b\n1|2\n3|4\n".getBytes); gz.close()
    val p = tmp("data.csv.gz", bos.toByteArray)
    val schema = StructType(Seq(StructField("x", IntegerType), StructField("y", IntegerType)))
    val noHeader = Formats.read(spark,
      LoadConfig("p", DataFormat.Csv, csvDelimiter = "|", ignoreCsvHeader = true),
      Seq(p), Some(schema))
    assert(noHeader.count() == 2)
    assert(noHeader.orderBy("x").as[(Int, Int)].collect().toSeq == Seq((1, 2), (3, 4)))
  }

  test("EMPTYASNULL / BLANKSASNULL shims (S10)") {
    val p = tmp("n.csv", "a,,  \nb,x,y\n".getBytes)
    val schema = StructType(Seq("c1", "c2", "c3").map(StructField(_, StringType)))
    val df = Formats.read(spark,
      LoadConfig("p", DataFormat.Csv, emptyAsNull = true, blanksAsNull = true),
      Seq(p), Some(schema))
    val rows = df.orderBy("c1").collect()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2)) // "" and "  " → null
    assert(rows(1).getString(1) == "x")
  }

  test("column list maps read columns onto target names positionally (S6)") {
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    val mapped = Formats.applyColumnList(df, Some(Seq("z", "y")))
    assert(mapped.columns.toSeq == Seq("z", "y"))
    assert(mapped.as[(Int, Int)].collect().head == ((1, 2)))
    intercept[IllegalArgumentException] {
      Formats.applyColumnList(df, Some(Seq("w", "x", "y", "z")))
    }
  }
}
