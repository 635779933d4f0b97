package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.operators.AcidTable

/** Round 15: WRITE-SIDE SCHEMA EVOLUTION — mergeSchema appends, ALTER
  * TABLE ADD COLUMN / widening ALTER COLUMN TYPE, the `#schema:`
  * header as schema source of truth, null-fill + decode-time widening
  * on both read paths, conflicts rejected with the quarantine pointer. */
class AcidEvolveSpec extends SparkSpec {
  import spark.implicits._

  private val base = Files.createTempDirectory("graft_acidevo").toString
  spark.conf.set("spark.sql.catalog.ev", "graft.sources.AcidCatalog")
  spark.conf.set("spark.sql.catalog.ev.root", base)

  private def mk(name: String): String = {
    val root = s"$base/$name"
    AcidTable.commitAppend(
      (1 to 5).map(i => (i, i * 10)).toDF("k", "v").coalesce(1), root,
      statsCols = Seq("k"))
    root
  }

  test("a mergeSchema DSv2 append widens k to long, adds a column, " +
      "and the read null-fills / upcasts") {
    val root = mk("e1")
    Seq((100L, 7, "x")).toDF("k", "v", "tag")
      .write.format("graft-acid").option("root", root)
      .option("mergeSchema", "true").mode("append").save()
    val out = AcidTable.read(spark, root)
    assert(out.schema.fields.map(f => f.name -> f.dataType.simpleString)
      .toSeq === Seq("k" -> "bigint", "v" -> "int", "tag" -> "string"))
    val rows = out.as[(Long, Int, Option[String])].collect().toSet
    assert(rows === (1 to 5).map(i => (i.toLong, i * 10, None)).toSet +
      ((100L, 7, Some("x"))))
    // v1 still reads under its own (pre-evolution) schema
    assert(AcidTable.readAsOf(spark, root, 1L).schema
      .fields.map(_.name).toSeq === Seq("k", "v"))
  }

  test("the DSv2 batch reader widens and null-fills too") {
    val root = mk("e2")
    Seq((200L, 8, 2.5d)).toDF("k", "v", "score")
      .write.format("graft-acid").option("root", root)
      .option("mergeSchema", "true").mode("append").save()
    val out = spark.read.format("graft-acid").option("root", root).load()
    assert(out.schema("k").dataType === LongType)
    assert(out.where(col("k") === 3L).select("score").head().isNullAt(0))
    assert(out.where(col("k") === 200L).select("score").head()
      .getDouble(0) === 2.5d)
    assert(out.agg(sum("k")).head().getLong(0) === 215L)
  }

  test("a cross-kind conflict rejects with the quarantine pointer and " +
      "publishes nothing") {
    val root = mk("e3")
    val e = intercept[Exception] {
      Seq(("oops", 1)).toDF("k", "v")
        .write.format("graft-acid").option("root", root)
        .option("mergeSchema", "true").mode("append").save()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).flatMap(t => Option(t.getMessage)).exists(m =>
        m.contains("readReconciled")),
      s"conflict must point at the quarantine path, got: ${e.getMessage}")
    assert(AcidTable.versions(spark, root) === Seq(1L),
      "a rejected conflict publishes no version")
  }

  test("ALTER TABLE ADD COLUMN evolves data-free; INSERT then carries " +
      "the new column; SET TBLPROPERTIES persists") {
    val root = mk("e4")
    spark.sql("ALTER TABLE ev.e4 ADD COLUMN note STRING")
    assert(AcidTable.actionOf(spark, root, 2L) === "evolve")
    spark.sql("INSERT INTO ev.e4 VALUES (9, 90, 'new')")
    val rows = spark.sql("SELECT k, v, note FROM ev.e4")
      .as[(Int, Int, Option[String])].collect().toSet
    assert(rows === (1 to 5).map(i => (i, i * 10, None)).toSet +
      ((9, 90, Some("new"))))
    spark.sql("ALTER TABLE ev.e4 SET TBLPROPERTIES ('statsCols'='k')")
    assert(AcidTable.tableProperties(spark, root)("statsCols") === "k")
  }

  test("widening ALTER COLUMN TYPE works; narrowing / drops fail fast") {
    val root = mk("e5")
    spark.sql("ALTER TABLE ev.e5 ALTER COLUMN v TYPE BIGINT")
    assert(AcidTable.currentSchema(spark, root)("v").dataType === LongType)
    assert(spark.sql("SELECT sum(v) FROM ev.e5").head().getLong(0) === 150L)
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.e5 ALTER COLUMN k TYPE STRING")
    }
    intercept[Exception] { spark.sql("ALTER TABLE ev.e5 DROP COLUMN v") }
  }

  test("the header survives later commits: merge + compact on an " +
      "evolved table keep the widened schema and the answers") {
    val root = mk("e6")
    Seq((6L, 60, "t6")).toDF("k", "v", "tag")
      .write.format("graft-acid").option("root", root)
      .option("mergeSchema", "true").mode("append").save()
    // an engine-level COW merge on the evolved table: the rewrite reads
    // under the header (old files gain null tag), writes full-schema
    AcidTable.mergeCow(
      Seq((2L, 222, "upd")).toDF("k", "v", "tag"), root, "k",
      statsCols = Seq("k"))
    AcidTable.compact(spark, root, 1, statsCols = Seq("k"))
    val out = AcidTable.read(spark, root)
      .as[(Long, Int, Option[String])].collect().toSet
    val expect = Set((1L, 10, None), (2L, 222, Some("upd")), (3L, 30, None),
      (4L, 40, None), (5L, 50, None), (6L, 60, Some("t6")))
    assert(out === expect)
    assert(AcidTable.currentSchema(spark, root).fieldNames.toSeq ===
      Seq("k", "v", "tag"))
  }

  test("tail and readStream treat an 'evolve' commit as a no-op and " +
      "keep delivering appends") {
    val root = mk("e8")
    val ck = Files.createTempDirectory("graft_acidevo_tl").toString
    AcidTable.evolveSchema(spark, root, StructType(Seq(
      StructField("k", IntegerType), StructField("v", IntegerType),
      StructField("w", LongType))))
    AcidTable.commitAppend(
      Seq((9, 90, 900L)).toDF("k", "v", "w").coalesce(1), root)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val done = graft.streaming.AcidTail.tail(spark, root, ck) { (df, v) =>
      seen += v
      assert(df.count() > 0)
      ()
    }
    // v2 (evolve) checkpointed but not delivered; v1 and v3 delivered
    assert(done.toSet === Set(1L, 2L, 3L))
    assert(seen.toSet === Set(1L, 3L))
  }

  test("every time-travel form reads the old version under its own " +
      "schema: asOfVersion, VERSION AS OF, asOfTimestamp, TIMESTAMP AS OF") {
    val root = mk("e9")
    val ts1 = AcidTable.commitTimestamp(spark, root, 1L)
    // the later commits must be told apart from v1 by wall clock
    Thread.sleep(5)
    spark.sql("ALTER TABLE ev.e9 ADD COLUMN note STRING")
    spark.sql("INSERT INTO ev.e9 VALUES (9, 90, 'new')")
    assert(AcidTable.commitTimestamp(spark, root, 2L) > ts1)
    def v1 = spark.read.format("graft-acid").option("root", root)
    val forms = Seq(
      "asOfVersion" -> v1.option("asOfVersion", "1").load(),
      "VERSION AS OF" -> spark.sql("SELECT * FROM ev.e9 VERSION AS OF 1"),
      "asOfTimestamp" -> v1.option("asOfTimestamp", ts1.toString).load(),
      "TIMESTAMP AS OF" -> spark.sql(
        s"SELECT * FROM ev.e9 TIMESTAMP AS OF timestamp_millis($ts1)"))
    for ((form, df) <- forms) {
      assert(df.columns.toSeq === Seq("k", "v"), form)
      assert(df.as[(Int, Int)].collect().toSet ===
        (1 to 5).map(i => (i, i * 10)).toSet, form)
    }
    assert(spark.sql("SELECT * FROM ev.e9").columns.toSeq ===
      Seq("k", "v", "note"))
  }

  test("commitAppendEvolve is the engine-level mergeSchema twin") {
    val root = mk("e7")
    AcidTable.commitAppendEvolve(
      Seq((7L, 70L)).toDF("k", "v"), root, statsCols = Seq("k"))
    val s = AcidTable.currentSchema(spark, root)
    assert(s("k").dataType === LongType && s("v").dataType === LongType)
    assert(AcidTable.read(spark, root).agg(sum("v")).head().getLong(0)
      === 220L)
  }
}
