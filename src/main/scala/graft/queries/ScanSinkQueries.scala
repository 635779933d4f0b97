package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.operators.{AcidTable, Batching, IngestEgress}
import graft.util.Memo

/** Scans, sources, sinks (SURVEY.md §2.B Q-SCAN1–3, Q-SINK1–2). */
object ScanSinkQueries extends QueryModule {

  /** round(log10(1 + 1/d), 6) for d = 1..9 — Benford's law as fixed
    * literals, so no engine evaluates a logarithm at query time. */
  private val BenfordP = Seq(0.301030, 0.176091, 0.124939, 0.096910,
    0.079181, 0.066947, 0.057992, 0.051153, 0.045757)

  // Q-ACID1/2 fixture: a 3-version manifest table built ONCE per (session,
  // corpus) — v1 overwrite (keys %10 < 5), v2 overwrite (keys %10 in 2..7,
  // cents doubled where key %3 == 0), v3 append (keys %10 == 8). Every
  // version derives deterministically from the SAME orders parquet, so the
  // DuckDB oracle replays each snapshot from the fixture directly; reads
  // always resolve the on-disk manifests (never the in-memory plans).
  private def acidRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidtable|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acid/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitOverwrite(
        base.where(pmod(col("o_orderkey"), lit(10L)) < 5), root)
      AcidTable.commitOverwrite(
        base.where(pmod(col("o_orderkey"), lit(10L)).between(2, 7))
          .withColumn("cents",
            when(pmod(col("o_orderkey"), lit(3L)) === 0, col("cents") * 2)
              .otherwise(col("cents"))), root)
      AcidTable.commitAppend(
        base.where(pmod(col("o_orderkey"), lit(10L)) === 8), root)
      root
    }

  // Q-ACID4–6 fixture: a Z-ORDER-BUCKETED manifest table with per-file
  // (k, cents) min/max stats — built once per (session, corpus). Rows are
  // bucketed by the top 4 bits of the Morton z-value of (k, cents) scaled
  // into [0,1024), and each NONEMPTY bucket is one single-file commit, so
  // every data file covers a contiguous z-range => narrow min/max
  // RECTANGLES on both columns at once (the Layout.zorderBy write shape,
  // made commit-granular so the oracle can replay the per-file stats as
  // per-bucket aggregates). Returns (root, baseVersion=#files, maxk, maxc).
  private def buildZRoot(s: SparkSession, d: String,
                         root: String): (Long, Long, Long) = {
    val base = Tables.load(s, d, "orders").select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
    val m = base.agg(max("k"), max("cents")).head()
    val (maxk, maxc) = (m.getLong(0), m.getLong(1))
    val z = graft.operators.Layout.zValue(Seq(
      expr(s"(k * 1024) div ${maxk + 1}"),
      expr(s"(cents * 1024) div ${maxc + 1}")), 10)
    val withB = base.withColumn("__b", shiftright(z, 16))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = withB.select("__b").distinct()
      .collect().map(_.getLong(0)).sorted // <= 16 buckets by construction
    buckets.foreach { b =>
      AcidTable.commitAppend(
        withB.where(col("__b") === b).drop("__b").coalesce(1),
        root, statsCols = Seq("k", "cents"))
    }
    withB.unpersist()
    (buckets.length.toLong, maxk, maxc)
  }

  private def acidZ(s: SparkSession, d: String): (String, Long, Long, Long) =
    Memo.cached(s, s"acidz|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidz/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      // declared SUM columns (round 15): every commit records per-file
      // `sum:` segments, so q_acid27's metadata-only matrix serves SUM
      AcidTable.setSumCols(s, root, Seq("k", "cents"))
      val (n, maxk, maxc) = buildZRoot(s, d, root)
      (root, n, maxk, maxc)
    }

  // Q-ACID5 step: one copy-on-write UPSERT on the z-bucketed table —
  // updates hit only keys <= maxk/8 (low-k buckets), inserts land past
  // maxk (no existing file can contain them). Returns (root, version).
  /** The q_acid5 upsert frame: updates hit only keys <= maxk/8 (low-k
    * buckets), inserts land past maxk (no existing file can contain
    * them). Shared by the COW (q_acid5/6/8) and MOR (q_acid15) chains so
    * the two strategies answer for the SAME logical workload. */
  private def zUpsertFrame(s: SparkSession, d: String, maxk: Long): DataFrame = {
    val base = Tables.load(s, d, "orders").select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
    val updates = base
      .where(pmod(col("k"), lit(5L)) === 0 && col("k") <= maxk / 8)
      .withColumn("status", lit("U"))
      .withColumn("cents", col("cents") + 11)
    val inserts = base
      .where(pmod(col("k"), lit(7L)) === 3 && col("k") <= maxk / 8)
      .select((col("k") + (maxk + 1)).as("k"), lit("N").as("status"),
        (col("cents") + 1).as("cents"))
    updates.unionByName(inserts)
  }

  private def acidZMerged(s: SparkSession, d: String): (String, Long) =
    Memo.cached(s, s"acidzmerge|$d") {
      val (root, _, maxk, _) = acidZ(s, d)
      val (v, _, _) = AcidTable.mergeCow(zUpsertFrame(s, d, maxk), root,
        "k", statsCols = Seq("k", "cents"))
      (root, v)
    }

  // Q-ACID15 fixture: the SAME merge+delete workload as q_acid5/6 applied
  // MERGE-ON-READ on a fresh copy of the z-bucketed table — mergeMor masks
  // replaced keys where they sit (deletion-vector sidecars) and appends
  // the update rows; deleteMor masks the range without touching a byte of
  // table data. files_rewritten stays 0 across BOTH commits — that zero
  // is the whole point of the strategy, and it is oracle-pinned. Returns
  // (root, mergedVersion, deletedVersion, filesRewrittenTotal).
  private def acidMor(s: SparkSession, d: String): (String, Long, Long, Long) =
    Memo.cached(s, s"acidmor|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidmor/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val (_, maxk, _) = buildZRoot(s, d, root)
      val (vm, _, rw1) = AcidTable.mergeMor(zUpsertFrame(s, d, maxk), root,
        "k", statsCols = Seq("k", "cents"))
      val (vd, _, rw2) = AcidTable.deleteMor(s, root, "k",
        maxk / 3, maxk / 2)
      (root, vm, vd, (rw1 + rw2).toLong)
    }

  // Q-ACID22 fixture (round 14): the table written THROUGH the DSv2
  // write surface — v1 bootstraps via the engine API (the schema
  // source), v2 lands as `df.write.format("graft-acid").mode("append")`
  // (task-side Group-encoded parquet + driver-side rebase commit), v3 as
  // `.mode("overwrite")` (truncate → replace-the-table). Every version
  // derives deterministically from orders, so the oracle replays all
  // three states AND the action literals.
  private def acidDsv2Root(s: SparkSession, d: String): String =
    Memo.cached(s, s"aciddsv2|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_aciddsv2/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitAppend(
        base.where(pmod(col("k"), lit(10L)) < 3), root,
        statsCols = Seq("k"))
      base.where(pmod(col("k"), lit(10L)).between(3, 6))
        .withColumn("cents", col("cents") + 7)
        .write.format("graft-acid").option("root", root)
        .option("statsCols", "k").mode("append").save()
      base.where(pmod(col("k"), lit(2L)) === 0)
        .withColumn("cents", col("cents") * 3)
        .write.format("graft-acid").option("root", root)
        .mode("overwrite").save()
      root
    }

  // Q-ACID23 fixture (round 14): EXPECTATIONS AT THE MERGE GATE — the
  // q_acid5 upsert with planted violations (rows whose frame key is a
  // multiple of 11 carry negated cents): mergeExpect validates BEFORE
  // the locate, merges the clean split copy-on-write, and quarantines
  // the violators with a replay-idempotent token. Returns
  // (root, mergedVersion, quarantineVersion).
  private def acidMergeExpectRoot(s: SparkSession, d: String)
      : (String, Long, Long) =
    Memo.cached(s, s"acidmex|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidmex/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val (_, maxk, _) = buildZRoot(s, d, root)
      val planted = zUpsertFrame(s, d, maxk)
        .withColumn("cents",
          when(pmod(col("k"), lit(11L)) === 0, -col("cents"))
            .otherwise(col("cents")))
      val (v, _, _, _, qv) = AcidTable.mergeExpect(planted, root, "k",
        Seq("nonneg_cents" -> (col("cents") >= 0)),
        onViolation = "quarantine", strategy = "cow",
        statsCols = Seq("k", "cents"),
        quarantineToken = Some("mex-batch-1"))
      // replaying the same batch's quarantine must no-op on the token
      val replay = AcidTable.commitAppendOnce(
        planted.where(col("cents") < 0)
          .withColumn("__violations", lit("nonneg_cents")),
        s"$root/_quarantine", "mex-batch-1")
      require(qv.contains(replay),
        s"quarantine replay must return the landed version $qv, got $replay")
      (root, v, qv.getOrElse(0L))
    }

  // Q-ACID24 fixture (round 14): AUTO-MAINTENANCE — a churned table
  // (8 single-file appends + one merge-on-read upsert) crosses the
  // policy thresholds; maintain() folds the mask debt and bin-packs the
  // shred in debt-first order, each action an ordinary rebased commit.
  // Returns (root, actions-ran).
  private def acidMaintainRoot(s: SparkSession, d: String)
      : (String, Seq[String]) =
    Memo.cached(s, s"acidmaint|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidmaint/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      (0L to 7L).foreach { i =>
        AcidTable.commitAppend(
          base.where(pmod(col("k"), lit(8L)) === i).coalesce(1), root,
          statsCols = Seq("k"))
      }
      AcidTable.mergeMor(
        base.where(pmod(col("k"), lit(97L)) === 0)
          .withColumn("cents", col("cents") + 5),
        root, "k", statsCols = Seq("k"))
      val actions = AcidTable.maintain(s, root,
        AcidTable.MaintenancePolicy(maxFiles = 4, targetFiles = 2,
          smallBytes = 1L << 40, maxMaskRatio = 0.0),
        statsCols = Seq("k"))
      (root, actions.map(_._1))
    }

  // Q-ACID26 fixture (round 14): a CDC-ENABLED chain — v1 append (all
  // of orders), v2 merge-on-read upsert (k%13 updates at +3, shifted
  // k%17=5 inserts at +9), v3 MOR range delete. The merge and delete
  // commits write their logical deltas as change files at COMMIT time
  // (the Delta _change_data design) — the oracle replays every
  // version's feed from orders.
  private def acidCdcRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidcdcq|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidcdcq/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      AcidTable.enableCdc(s, root)
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitAppend(base, root, statsCols = Seq("k"))
      val maxk = base.agg(max("k")).head().getLong(0)
      val ups = base.where(pmod(col("k"), lit(13L)) === 0)
        .withColumn("cents", col("cents") + 3)
        .unionByName(base.where(pmod(col("k"), lit(17L)) === 5)
          .select((col("k") + (maxk + 1)).as("k"), col("status"),
            (col("cents") + 9).as("cents")))
      AcidTable.mergeMor(ups, root, "k", statsCols = Seq("k"))
      AcidTable.deleteMor(s, root, "k", maxk / 4, maxk / 3)
      root
    }

  // Q-ACID28 fixture (round 14): SQL DML — a catalog-registered table
  // from orders takes a SQL DELETE then a SQL MERGE INTO (matched
  // update +5 cents, shifted not-matched inserts +9) through the
  // group-based row-level operation: Spark's own rewrite machinery
  // feeding the engine's copy-on-write rebase commit. Returns the root.
  private def acidSqlDmlRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidsqldml|$d") {
      val tag = new java.io.File(d).getName.replace('.', '_')
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_acidsqldml/" +
        s"${s.sparkContext.applicationId}/$tag"
      val root = s"$base/t"
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitAppend(orders, root, statsCols = Seq("k"))
      val maxk = orders.agg(max("k")).head().getLong(0)
      s.conf.set("spark.sql.catalog.dml", "graft.sources.AcidCatalog")
      s.conf.set("spark.sql.catalog.dml.root", base)
      s.sql("DELETE FROM dml.t WHERE k % 10 = 3")
      orders.where(pmod(col("k"), lit(7L)) === 0)
        .withColumn("cents", col("cents") + 5)
        .unionByName(orders.where(pmod(col("k"), lit(11L)) === 4)
          .select((col("k") + (maxk + 1)).as("k"), col("status"),
            (col("cents") + 9).as("cents")))
        .createOrReplaceTempView(s"graft_dml_src_$tag")
      s.sql(
        s"""MERGE INTO dml.t t USING graft_dml_src_$tag s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (k, status, cents)
           |VALUES (s.k, s.status, s.cents)""".stripMargin)
      root
    }

  // Q-ACID29 fixture (round 15): CDC FROM SQL DML — a CDC-stamped,
  // merge-keyed table takes a SQL MERGE INTO through the DELTA-based
  // row-level path (deletion-vector commit, no file rewritten); the
  // commit derives and publishes its keyed logical delta as `#cdc`
  // files. Returns (root, allCarried, nMasked): v1's paths all still
  // present at v2 (the files_rewritten=0 fact) and >0 masked entries.
  private def acidSqlCdcRoot(s: SparkSession, d: String)
      : (String, Long, Long) =
    Memo.cached(s, s"acidsqlcdc|$d") {
      val tag = new java.io.File(d).getName.replace('.', '_')
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_acidsqlcdc/" +
        s"${s.sparkContext.applicationId}/$tag"
      val root = s"$base/t"
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitAppend(orders, root, statsCols = Seq("k"))
      AcidTable.setMergeKey(s, root, "k")
      AcidTable.enableCdc(s, root)
      val maxk = orders.agg(max("k")).head().getLong(0)
      s.conf.set("spark.sql.catalog.cdc29", "graft.sources.AcidCatalog")
      s.conf.set("spark.sql.catalog.cdc29.root", base)
      orders.where(pmod(col("k"), lit(7L)) === 0)
        .withColumn("cents", col("cents") + 5)
        .unionByName(orders.where(pmod(col("k"), lit(11L)) === 4)
          .select((col("k") + (maxk + 1)).as("k"), col("status"),
            (col("cents") + 9).as("cents")))
        .createOrReplaceTempView(s"graft_cdc29_src_$tag")
      s.sql(
        s"""MERGE INTO cdc29.t t USING graft_cdc29_src_$tag s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET cents = s.cents
           |WHEN NOT MATCHED THEN INSERT (k, status, cents)
           |VALUES (s.k, s.status, s.cents)""".stripMargin)
      val v1 = AcidTable.entriesOf(s, root, 1L).map(_.path).toSet
      val v2 = AcidTable.entriesOf(s, root, 2L)
      (root, if (v1.subsetOf(v2.map(_.path).toSet)) 1L else 0L,
        v2.count(_.dv.isDefined).toLong)
    }

  // Q-ACID30 fixture (round 15): DELTA SQL DELETE file facts — orders
  // committed as one file per contiguous k-range bucket (per-file
  // stats == per-bucket aggregates, so the oracle replays the FILE
  // facts), merge key declared, then a SQL range DELETE: only the
  // overlapping buckets are masked, nothing is rewritten. Returns
  // (root, filesTotal, filesMasked, allCarried, lo, hi).
  private def acidDeltaDmlRoot(s: SparkSession, d: String)
      : (String, Long, Long, Long, Long, Long) =
    Memo.cached(s, s"aciddeltadml|$d") {
      val tag = new java.io.File(d).getName.replace('.', '_')
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_aciddldml/" +
        s"${s.sparkContext.applicationId}/$tag"
      val root = s"$base/t"
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      val maxk = orders.agg(max("k")).head().getLong(0)
      (0L to 7L).foreach { b =>
        val part = orders.where(
          expr(s"(k * 8) div ${maxk + 1}") === b).coalesce(1)
        if (!part.isEmpty) {
          AcidTable.commitAppend(part, root, statsCols = Seq("k"))
          ()
        }
      }
      AcidTable.setMergeKey(s, root, "k")
      val nFiles = AcidTable.entriesOf(s, root,
        AcidTable.currentVersion(s, root)).length.toLong
      s.conf.set("spark.sql.catalog.dl30", "graft.sources.AcidCatalog")
      s.conf.set("spark.sql.catalog.dl30.root", base)
      val (lo, hi) = (maxk / 4, maxk / 3)
      s.sql(s"DELETE FROM dl30.t WHERE k BETWEEN $lo AND $hi")
      val before = AcidTable.entriesOf(s, root, nFiles).map(_.path).toSet
      val after = AcidTable.entriesOf(s, root,
        AcidTable.currentVersion(s, root))
      (root, nFiles, after.count(_.dv.isDefined).toLong,
        if (after.map(_.path).toSet == before) 1L else 0L, lo, hi)
    }

  // Q-ACID31 fixture (round 15): DDL end-to-end — CTAS with
  // TBLPROPERTIES (statsCols + merge key straight from DDL), then an
  // INSERT INTO append. Returns the root.
  private def acidCtasRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidctasq|$d") {
      val tag = new java.io.File(d).getName.replace('.', '_')
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_acidctasq/" +
        s"${s.sparkContext.applicationId}/$tag"
      Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
        .createOrReplaceTempView(s"graft_ctas31_src_$tag")
      s.conf.set("spark.sql.catalog.ct31", "graft.sources.AcidCatalog")
      s.conf.set("spark.sql.catalog.ct31.root", base)
      s.sql(
        s"""CREATE TABLE ct31.t TBLPROPERTIES ('statsCols'='k','key'='k')
           |AS SELECT k, status, cents FROM graft_ctas31_src_$tag
           |WHERE k % 3 = 0""".stripMargin)
      s.sql(
        s"""INSERT INTO ct31.t
           |SELECT k, status, cents FROM graft_ctas31_src_$tag
           |WHERE k % 3 = 1""".stripMargin)
      s"$base/t"
    }

  // Q-ACID32 fixture (round 15): WRITE-SIDE SCHEMA EVOLUTION — v1
  // commits (k, status, cents_int) with cents as INT; the drifted
  // mergeSchema append lands a DISJOINT key slice with cents as BIGINT
  // (widening) plus a NEW region column; the #schema header widens the
  // table, old rows null-fill. Returns the root.
  private def acidEvolveRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidevoq|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidevoq/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitAppend(
        orders.where(pmod(col("k"), lit(2L)) === 0)
          .withColumn("cents", col("cents").cast("int")), root,
        statsCols = Seq("k"))
      orders.where(pmod(col("k"), lit(2L)) === 1)
        .withColumn("region",
          concat(lit("R"), pmod(col("k"), lit(3L)).cast("string")))
        .write.format("graft-acid").option("root", root)
        .option("mergeSchema", "true").mode("append").save()
      root
    }

  // Q-ACID16 fixture: ONE globally ship_day-sorted data file forced into
  // many small row groups (parquet.block.size write option), so SUB-FILE
  // skipping is observable: per-file stats admit the file, the footer's
  // per-row-group ranges exclude most of its blocks.
  private def acidRgRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidrg|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidrg/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "lineitem").select(
        col("l_orderkey").as("k"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"),
        round(col("l_extendedprice") * lit(100.0)).cast("long").as("cents"))
        .repartition(1).sortWithinPartitions("ship_day")
      AcidTable.commitOverwrite(base, root, statsCols = Seq("ship_day"),
        writeOptions = Map("parquet.block.size" -> "16384",
          "parquet.page.size" -> "4096"))
      root
    }

  // Q-ACID6 step: a copy-on-write range DELETE on top of the merge.
  // Returns (root, mergedVersion, deletedVersion).
  private def acidZDeleted(s: SparkSession, d: String): (String, Long, Long) =
    Memo.cached(s, s"acidzdel|$d") {
      val (_, _, maxk, _) = acidZ(s, d)
      val (root, vm) = acidZMerged(s, d)
      val (vd, _, _) = AcidTable.deleteCow(s, root, "k",
        maxk / 3, maxk / 2, statsCols = Seq("k", "cents"))
      (root, vm, vd)
    }

  // Q-ACID8 step: OPTIMIZE ZORDER on top of the merge+delete chain —
  // rewrite the v(delete) snapshot as 8 z-clustered files with fresh
  // stats. Returns (root, compactedVersion).
  private def acidZCompacted(s: SparkSession, d: String): (String, Long) =
    Memo.cached(s, s"acidzcompact|$d") {
      val (_, _, maxk, maxc) = acidZ(s, d)
      val (root, _, _) = acidZDeleted(s, d)
      val v = AcidTable.compactZOrder(s, root, numFiles = 8, bits = 10,
        Seq(expr(s"(k * 1024) div ${maxk + 1}"),
          expr(s"(cents * 1024) div ${maxc + 1}")),
        statsCols = Seq("k", "cents"))
      (root, v)
    }

  // Q-ACID9 fixture: the reference's own physical design (partition by
  // year, README.md:63) as manifest commits — one single-file commit per
  // lineitem ship-YEAR with epoch-day stats, so a date-range read plans
  // only the overlapping years' files. Returns (root, version).
  private def acidYearRoot(s: SparkSession, d: String): (String, Long) =
    Memo.cached(s, s"acidyear|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidyear/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "lineitem").select(
        col("l_orderkey").as("k"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"),
        round(col("l_extendedprice") * lit(100.0)).cast("long").as("cents"),
        year(col("l_shipdate")).as("__y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val years = base.select("__y").distinct()
        .collect().map(_.getInt(0)).sorted
      years.foreach { y =>
        AcidTable.commitAppend(
          base.where(col("__y") === y).drop("__y").coalesce(1),
          root, statsCols = Seq("ship_day", "cents"))
      }
      base.unpersist()
      (root, years.length.toLong)
    }

  // Q-ACID12 fixture: a string-clustered manifest table — 8 single-file
  // commits of customer banded by c_custkey (zero-padded c_name makes
  // lexicographic order == numeric order), with STRING min/max stats on
  // name and long stats on k. Returns (root, version, maxk).
  private def buildStrRoot(s: SparkSession, d: String,
                           root: String): (Long, Long) = {
    val base = Tables.load(s, d, "customer").select(
      col("c_name").as("name"), col("c_custkey").as("k"),
      round(col("c_acctbal") * lit(100.0)).cast("long").as("cents"))
    val maxk = base.agg(max("k")).head().getLong(0)
    val withB = base.withColumn("__b", expr(s"(k * 8) div ${maxk + 1}"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = withB.select("__b").distinct()
      .collect().map(_.getLong(0)).sorted // <= 8 bands by construction
    bands.foreach { b =>
      AcidTable.commitAppend(
        withB.where(col("__b") === b).drop("__b").coalesce(1),
        root, statsCols = Seq("name", "k"))
    }
    withB.unpersist()
    (bands.length.toLong, maxk)
  }

  private def acidStrRoot(s: SparkSession, d: String): (String, Long, Long) =
    Memo.cached(s, s"acidstr|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidstr/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val (n, maxk) = buildStrRoot(s, d, root)
      (root, n, maxk)
    }

  /** The q_acid13 per-symbol upsert frame (updates hit band-0 names only,
    * inserted names sort past every band) — shared by the COW (q_acid13)
    * and MOR (q_acid17) string chains. */
  private def strUpsertFrame(s: SparkSession, d: String,
                             maxk: Long): DataFrame = {
    val base = Tables.load(s, d, "customer").select(
      col("c_name").as("name"), col("c_custkey").as("k"),
      round(col("c_acctbal") * lit(100.0)).cast("long").as("cents"))
    val updates = base
      .where(pmod(col("k"), lit(9L)) === 0 && col("k") <= maxk / 8)
      .withColumn("cents", col("cents") + 7)
    val inserts = base
      .where(pmod(col("k"), lit(11L)) === 5 && col("k") <= maxk / 8)
      .select(format_string("Customer#%09d", col("k") + maxk + 1).as("name"),
        (col("k") + maxk + 1).as("k"), (col("cents") + 3).as("cents"))
    updates.unionByName(inserts)
  }

  // Q-ACID17 fixture: the q_acid13 per-symbol upsert applied MERGE-ON-READ
  // on a fresh copy of the name-banded table — the replaced band-0 rows
  // are masked where they sit through the STRING-stat locate (UTF-8 byte
  // order end-to-end), the updates land as new files, and not one table
  // byte is rewritten. Returns (root, version, maxk, masked, rewritten).
  private def acidStrMor(s: SparkSession, d: String):
      (String, Long, Long, Int, Int) =
    Memo.cached(s, s"acidstrmor|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidstrmor/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val (_, maxk) = buildStrRoot(s, d, root)
      val (v, masked, rewritten) = AcidTable.mergeMor(
        strUpsertFrame(s, d, maxk), root, "name",
        statsCols = Seq("name", "k"))
      (root, v, maxk, masked, rewritten)
    }

  // Q-ACID13 step: one STRING-keyed copy-on-write upsert on the
  // name-clustered table — the reference's daily workload (re-fetch one
  // symbol, upsert its rows) with c_name standing in for the symbol.
  // Updates hit band-0 names only; inserted names sort past every band's
  // max, so exactly ONE of the 8 files is rewritten. Returns
  // (root, mergedVersion, maxk, filesRewritten, filesKept).
  private def acidStrMerged(s: SparkSession, d: String):
      (String, Long, Long, Int, Int) =
    Memo.cached(s, s"acidstrmerge|$d") {
      val (root, _, maxk) = acidStrRoot(s, d)
      val (v, rewritten, kept) = AcidTable.mergeCow(
        strUpsertFrame(s, d, maxk), root, "name",
        statsCols = Seq("name", "k"))
      (root, v, maxk, rewritten, kept)
    }

  // Q-ACID14 fixture: a shredded table — one big commit (90% of orders)
  // + three small appends (thirds of the rest) — then bin-packing
  // OPTIMIZE at threshold = the big file's own size: the three smalls
  // pack into one file, the big file is carried by reference. Returns
  // (root, compactedVersion, packed, kept, filesAfter).
  private def acidPackRoot(s: SparkSession, d: String):
      (String, Long, Int, Int, Int) =
    Memo.cached(s, s"acidpack|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidpack/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitOverwrite(
        base.where(pmod(col("k"), lit(10L)) =!= 0).coalesce(1),
        root, statsCols = Seq("k"))
      Seq(0L, 10L, 20L).foreach { r =>
        AcidTable.commitAppend(
          base.where(pmod(col("k"), lit(30L)) === r).coalesce(1),
          root, statsCols = Seq("k"))
      }
      val bigLen = new java.io.File(root,
        AcidTable.entriesOf(s, root, 1L).head.path).length()
      val (v, packed, kept) = AcidTable.compactSmall(s, root, bigLen,
        targetFiles = 1, statsCols = Seq("k"))
      (root, v, packed, kept, AcidTable.entriesOf(s, root, v).length)
    }

  // Q-ACID7 fixture: three drifting APPENDS into one manifest table —
  // v widens int -> bigint -> double, tag type-conflicts (string ->
  // bigint) at gen 3, extra appears only at gen 3. The reconciled read
  // must widen v, null-fill extra, and quarantine tag.
  private def acidDriftRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"aciddrift|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_aciddrift/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val o = Tables.load(s, d, "orders")
      val cents = round(col("o_totalprice") * lit(100.0))
      AcidTable.commitAppend(
        o.where(pmod(col("o_orderkey"), lit(3L)) === 0).select(
          col("o_orderkey").as("k"), cents.cast("int").as("v"),
          col("o_orderstatus").as("tag")), root)
      AcidTable.commitAppend(
        o.where(pmod(col("o_orderkey"), lit(3L)) === 1).select(
          col("o_orderkey").as("k"), (cents.cast("long") * 3).as("v"),
          col("o_orderstatus").as("tag")), root)
      AcidTable.commitAppend(
        o.where(pmod(col("o_orderkey"), lit(3L)) === 2).select(
          col("o_orderkey").as("k"), (cents.cast("long") * 2).cast("double").as("v"),
          pmod(col("o_orderkey"), lit(5L)).as("tag"),
          pmod(col("o_orderkey"), lit(2L)).as("extra")), root)
      root
    }

  // Q-ACID19 fixture: write-time EXPECTATIONS — orders with PLANTED
  // violations (k%7==0 → negative cents, k%11==0 → unknown status '?';
  // k%77==0 rows violate BOTH, exercising the joined-name path),
  // committed under the quarantine policy: passing rows land in the
  // table, violating rows in root/_quarantine with __violations naming
  // what failed. Returns (root, version, quarantineVersion, rejected).
  private def acidExpectRoot(s: SparkSession, d: String):
      (String, Long, Long, Long) =
    Memo.cached(s, s"acidexpect|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidexpect/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val cents0 = round(col("o_totalprice") * lit(100.0)).cast("long")
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"),
        when(pmod(col("o_orderkey"), lit(11L)) === 0, lit("?"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(pmod(col("o_orderkey"), lit(7L)) === 0, -cents0)
          .otherwise(cents0).as("cents"))
      val (v, rejected, qv) = AcidTable.commitAppendExpect(base, root,
        Seq("nonneg_cents" -> (col("cents") >= 0),
          "known_status" -> col("status").isin("O", "F", "P")),
        onViolation = "quarantine", statsCols = Seq("k"))
      (root, v, qv.get, rejected)
    }

  // Q-ACID20 fixture: RESTORE — a good state (v1), a bad overwrite (v2),
  // and the audited rollback (v3 = restore(1), a NEW commit referencing
  // v1's files; nothing deleted, the bad version stays time-travelable).
  private def acidRestoreRoot(s: SparkSession, d: String): String =
    Memo.cached(s, s"acidrestore|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_acidrestore/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val base = Tables.load(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      AcidTable.commitOverwrite(
        base.where(pmod(col("k"), lit(10L)) < 5), root)
      AcidTable.commitOverwrite( // the "bad" state: cents corrupted
        base.where(pmod(col("k"), lit(10L)) >= 7)
          .withColumn("cents", col("cents") * 1000), root)
      AcidTable.restore(s, root, 1L)
      root
    }

  // Q-DQ8 fixture: three parquet GENERATIONS written once per (session,
  // corpus) with planted drift — price_cents widens int→bigint→double,
  // region is renamed to region_name at gen 2 (same type, adjacent
  // generations), status type-CONFLICTS at gen 3 (string→bigint), k and
  // note are stable. The oracle replays the drift logic from the same
  // planted inventory as a VALUES literal (the dirs are session-local, so
  // the inventory — not the path — is the cross-engine contract; reading
  // the footers back IS the Spark-side check: a schema-read bug breaks
  // the hash).
  private def schemaGenDirs(s: SparkSession, d: String): Seq[(Long, String)] =
    Memo.cached(s, s"schemagens|$d") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_schema_gens/" +
        s"${s.sparkContext.applicationId}/${new java.io.File(d).getName}"
      val o = Tables.load(s, d, "orders")
      val cents = round(col("o_totalprice") * lit(100.0))
      o.where(pmod(col("o_orderkey"), lit(3L)) === 0).select(
          col("o_orderkey").as("k"), cents.cast("int").as("price_cents"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("region"),
          col("o_orderstatus").as("note"))
        .write.mode("overwrite").parquet(s"$root/g1")
      o.where(pmod(col("o_orderkey"), lit(3L)) === 1).select(
          col("o_orderkey").as("k"), cents.cast("long").as("price_cents"),
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("region_name"),
          col("o_orderstatus").as("note"))
        .write.mode("overwrite").parquet(s"$root/g2")
      o.where(pmod(col("o_orderkey"), lit(3L)) === 2).select(
          col("o_orderkey").as("k"), cents.cast("double").as("price_cents"),
          pmod(col("o_orderkey"), lit(7L)).as("status"),
          col("o_orderpriority").as("region_name"),
          col("o_orderstatus").as("note"))
        .write.mode("overwrite").parquet(s"$root/g3")
      Seq((1L, s"$root/g1"), (2L, s"$root/g2"), (3L, s"$root/g3"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q-DQ8 (round 11): schema-evolution audit — the drift report over
    // three planted parquet generations: per column, presence window,
    // type change-point history, widened/narrowed/conflict flags, the
    // reconciled reader type (null when conflicted — quarantine, don't
    // fail the scan), and the renamed-candidate link. Inventory comes
    // from parquet FOOTERS only; all report logic is relational.
    "q_dq8" -> ((s, d) =>
      graft.operators.SchemaEvolution.driftReport(
          graft.operators.SchemaEvolution.generationSchemas(s, schemaGenDirs(s, d)))
        .orderBy("col_name")),

    // Q-ACID1 (round 11): TIME TRAVEL — after an overwrite and an append,
    // every historical version is still readable from its manifest:
    // per-version status rollups of v1 (pre-overwrite state — the proof
    // the v2 commit disturbed nothing), v2, and v3 (= v2 ∪ appended).
    "q_acid1" -> ((s, d) => {
      val root = acidRoot(s, d)
      (1L to 3L).map { v =>
        AcidTable.readAsOf(s, root, v)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), col("o_orderstatus"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version", "o_orderstatus")
    }),

    // Q-ACID3 (round 11): compaction — the OPTIMIZE step: v4 rewrites the
    // v3 state as exactly 2 files under the 'compact' action (one more
    // commit through the same create-exclusive gate; data byte-identical
    // by construction). Emits per-version (action, row count, exact sum)
    // across the whole history — the compacted version must serve the
    // SAME aggregates as the state it rewrote, and the pre-compaction
    // versions must be undisturbed (the snapshot-isolation proof again,
    // now with a rewriter racing the readers).
    "q_acid3" -> ((s, d) => {
      val root = acidRoot(s, d)
      Memo.cached(s, s"acidcompact|$d") {
        java.lang.Long.valueOf(AcidTable.compact(s, root, numFiles = 2))
      }
      AcidTable.history(s, root).map { case (v, action, _) =>
        AcidTable.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), lit(action).as("action"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    // Q-ACID2 (round 11): version diff — SnapshotDiff over two resolved
    // snapshots (one full-outer join on the key). All three change kinds
    // are live on the fixture: added (%10 in 5..7), removed (%10 in 0..1),
    // changed (%10 in 2..4 with %3 == 0 — the doubled cents).
    "q_acid2" -> ((s, d) =>
      AcidTable.diffVersions(s, acidRoot(s, d), from = 1, to = 2,
          keys = Seq("o_orderkey"), tracked = Seq("o_orderstatus", "cents"))
        .orderBy("o_orderkey")),

    // Q-ACID4 (round 12): DATA SKIPPING off the manifest's per-file
    // min/max — a two-column range predicate over the z-bucketed table
    // plans only the files whose (k, cents) rectangles overlap it;
    // files_scanned < files_total is emitted AS DATA and the oracle
    // replays the prune decision from per-bucket aggregates (per-file
    // footer stats == per-bucket stats by construction). The row answer
    // comes from the PRUNED scan, so a prune that dropped a matching
    // file would break n/sum_cents, not just the file counts.
    "q_acid4" -> ((s, d) => {
      val (root, baseV, maxk, _) = acidZ(s, d)
      val (kl, kh) = (maxk / 4, maxk / 2)
      val (cl, ch) = (10000000L, 30000000L)
      val pr = AcidTable.readWhere(s, root, baseV, Seq(
        AcidTable.ColRange("k", kl, kh), AcidTable.ColRange("cents", cl, ch)))
      pr.df.where(col("k").between(kl, kh) && col("cents").between(cl, ch))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(pr.filesTotal.toLong).as("files_total"),
          lit(pr.filesScanned.toLong).as("files_scanned"),
          col("n"), col("sum_cents"))
    }),

    // Q-ACID5 (round 12): copy-on-write UPSERT — only files whose key
    // range can contain a touched key are rewritten (the untouched-lines-
    // byte-identical proof is AcidTableSpec's); the oracle replays the
    // upsert relationally over the same fixture.
    "q_acid5" -> ((s, d) => {
      val (root, v) = acidZMerged(s, d)
      AcidTable.readAsOf(s, root, v)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("status")
    }),

    // Q-ACID6 (round 12): copy-on-write range DELETE on top of the merge,
    // plus the snapshot-isolation proof across COW commits: the merged
    // version still serves its pre-delete state.
    "q_acid6" -> ((s, d) => {
      val (root, vm, vd) = acidZDeleted(s, d)
      Seq(("deleted", vd), ("merged", vm)).map { case (stage, v) =>
        AcidTable.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(stage).as("stage"), col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("stage")
    }),

    // Q-ACID7 (round 12): SCHEMA-RECONCILED time travel — three appends
    // whose schemas drift (v int->bigint->double, tag string->bigint
    // conflict, extra appears at gen 3) read back under the widened
    // reader schema with the conflicted column QUARANTINED, not
    // footer-roulette. sum_v is exact: v is integer-valued at every
    // generation, so the widened double sums exactly below 2^53.
    "q_acid7" -> ((s, d) => {
      val root = acidDriftRoot(s, d)
      val (df, quarantined, _) = AcidTable.readReconciled(s, root, 3L)
      df.groupBy(col("__gen").as("gen"))
        .agg(count(lit(1)).as("n"),
          sum("v").cast("long").as("sum_v"),
          coalesce(sum("extra"), lit(0L)).as("sum_extra"))
        .select(col("gen"), col("n"), col("sum_v"), col("sum_extra"),
          lit(quarantined.mkString(",")).as("quarantined"))
        .orderBy("gen")
    }),

    // Q-ACID8 (round 12): OPTIMIZE ZORDER — the full lakehouse lifecycle
    // ends with a re-clustering compaction of the merged+deleted state
    // (append-shredded ranges widen until readWhere stops skipping;
    // the z-order rewrite restores them). The oracle checks the rewrite
    // served byte-identical DATA through a pruned read (the rollup comes
    // from readWhere + the row filter, so an over-eager prune breaks it);
    // the skipping-restored property itself is AcidTableSpec's
    // (deterministic geometry there — file boundaries of a range
    // repartition are not oracle-replayable).
    "q_acid8" -> ((s, d) => {
      val (_, _, maxk, _) = acidZ(s, d)
      val (root, v) = acidZCompacted(s, d)
      val (kl, kh) = (maxk / 4, maxk / 2)
      val (cl, ch) = (10000000L, 30000000L)
      val pr = AcidTable.readWhere(s, root, v, Seq(
        AcidTable.ColRange("k", kl, kh), AcidTable.ColRange("cents", cl, ch)))
      pr.df.where(col("k").between(kl, kh) && col("cents").between(cl, ch))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    }),

    // Q-ACID9 (round 12): DATE-RANGE pruning over year-partitioned
    // commits — the reference's stated physical design (partition by
    // year, README.md:63) expressed as manifest stats: a
    // 1996-03-01..1997-06-30 predicate plans only the two overlapping
    // years' files of seven, and both the prune decision (per-year
    // min/max epoch days) and the rollup replay in the oracle. Both
    // engines COMPUTE the day literals from the same dates — no
    // hardcoded epoch arithmetic on either side.
    "q_acid9" -> ((s, d) => {
      val (root, v) = acidYearRoot(s, d)
      val Seq(d1, d2) = Seq("1996-03-01", "1997-06-30").map { dt =>
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse("1970-01-01"), java.time.LocalDate.parse(dt))
      }
      val pr = AcidTable.readWhere(s, root, v,
        Seq(AcidTable.ColRange("ship_day", d1, d2)))
      pr.df.where(col("ship_day").between(d1, d2))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("ship_day").as("min_day"), max("ship_day").as("max_day"))
        .select(lit(pr.filesTotal.toLong).as("files_total"),
          lit(pr.filesScanned.toLong).as("files_scanned"),
          col("n"), col("sum_cents"), col("min_day"), col("max_day"))
    }),

    // Q-ACID10 (round 12 cont.): CHANGE DATA FEED at file granularity —
    // the logical delta across the whole merge+delete chain (base z
    // version -> deleted version), computed from the manifest diff: files
    // both manifests reference are never opened, and rows a COW rewrite
    // carried value-identical cancel in the join. All three change kinds
    // are live (updates 'changed', inserts 'added', the delete range
    // 'removed'); the file-skipping fact (filesRead < filesTotal) is
    // AcidTableSpec's — rewrite file counts aren't oracle-replayable.
    "q_acid10" -> ((s, d) => {
      val (root, baseV, _, _) = acidZ(s, d)
      val (_, _, vd) = acidZDeleted(s, d)
      val (chg, _, _) = AcidTable.changesBetween(s, root, baseV, vd,
        keys = Seq("k"), tracked = Seq("status", "cents"))
      chg.select(col("change_type"), col("k"),
          col("old_status"), col("old_cents"),
          col("new_status"), col("new_cents"))
        .orderBy("k", "change_type")
    }),

    // Q-ACID11 (round 12 cont.): INCREMENTAL CONSUMPTION — each version's
    // increment (files the manifest gained over its predecessor) read
    // WITHOUT touching any carried file, over the append-only
    // year-partitioned table. The increments must tile the table exactly:
    // per-version rollups + the snapshot rollup + the rollup of the
    // unioned increments, which must agree (the exactly-once tiling
    // proof; the checkpointed tail/replay contract is AcidTailSpec's).
    "q_acid11" -> ((s, d) => {
      val (root, v) = acidYearRoot(s, d)
      // every increment's rows, tagged with their version, read ONCE —
      // the per-version rollups and the unioned-increments rollup both
      // aggregate these same physical rows (r15: the old per-branch
      // readAdded chains scanned each increment file twice, 15 scans in
      // the plan; now each is scanned once)
      val tagged = (1L to v).map { ver =>
        graft.streaming.AcidTail.readAdded(s, root, ver).get
          .select(lit(ver).as("version"), col("cents"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      // per-version slices of the materialized union, not a groupBy: an
      // EMPTY increment must still emit its n=0 row
      val incs = (1L to v).map { ver =>
        tagged.where(col("version") === ver)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(ver).as("version"), lit("increment").as("source"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_))
      val snap = AcidTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v).as("version"), lit("snapshot").as("source"),
          col("n"), col("sum_cents"))
      val incUnion = tagged
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(v).as("version"), lit("increments_sum").as("source"),
          col("n"), col("sum_cents"))
      incs.unionByName(snap).unionByName(incUnion)
        .orderBy("source", "version")
    }),

    // Q-ACID12 (round 12 cont.): STRING-stats data skipping — a c_name
    // range over the name-clustered table plans only the bands whose
    // lexicographic [min,max] overlap it (zero-padded names make the
    // oracle's replay pure k arithmetic); the row answer comes from the
    // pruned scan, so an over-eager prune breaks n/sum, not just counts.
    "q_acid12" -> ((s, d) => {
      val (root, v, maxk) = acidStrRoot(s, d)
      val lo = f"Customer#${maxk / 4}%09d"
      val hi = f"Customer#${maxk / 2}%09d"
      val pr = AcidTable.readWhere(s, root, v,
        Seq(AcidTable.StrRange("name", lo, hi)))
      pr.df.where(col("name").between(lo, hi))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("name").as("min_name"), max("name").as("max_name"))
        .select(lit(pr.filesTotal.toLong).as("files_total"),
          lit(pr.filesScanned.toLong).as("files_scanned"),
          col("n"), col("sum_cents"), col("min_name"), col("max_name"))
    }),

    // Q-ACID13 (round 12 cont.): STRING-keyed COW upsert — per-symbol
    // re-fetch + upsert, the reference's daily workload, located through
    // the manifest's string stats: updates touch band-0 names only and
    // inserted names sort past every band, so exactly 1 of 8 files is
    // rewritten — and that file-granularity fact IS oracle-checked here
    // (band commits make the touched-file count deterministic, unlike
    // the z-bucket chain's rewrite outputs).
    "q_acid13" -> ((s, d) => {
      val (root, vm, maxk, rewritten, kept) = acidStrMerged(s, d)
      AcidTable.readAsOf(s, root, vm)
        .groupBy(expr(s"(k * 8) div ${maxk + 1}").as("band"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("band"), col("n"), col("sum_cents"),
          lit(rewritten.toLong).as("files_rewritten"),
          lit(kept.toLong).as("files_kept"))
        .orderBy("band")
    }),

    // Q-ACID14 (round 12 cont.): bin-packing OPTIMIZE — only the three
    // sub-threshold files are rewritten (packed into one), the big file
    // is carried by reference; a full compact would rewrite everything
    // to fix kilobytes of shred. The rollup reads THROUGH the packed
    // version (a packing that lost/duplicated rows breaks n/sum); the
    // file facts are deterministic (commit-per-slice fixture) and
    // oracle-pinned.
    "q_acid14" -> ((s, d) => {
      val (root, v, packed, kept, after) = acidPackRoot(s, d)
      AcidTable.readAsOf(s, root, v)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("status"), col("n"), col("sum_cents"),
          lit(packed.toLong).as("files_packed"),
          lit(kept.toLong).as("files_kept"),
          lit(after.toLong).as("files_after"))
        .orderBy("status")
    }),

    // Q-ACID15 (round 13): MERGE-ON-READ — the q_acid5/6 merge+delete
    // workload replayed as deletion-vector commits on a fresh copy of the
    // z-bucketed table. The MOR read must serve EXACTLY the COW answer
    // (same oracle replay as q_acid6) while files_rewritten stays the
    // oracle-pinned literal 0: replaced keys are masked where they sit,
    // the delete is a key mask, and not one table byte is rewritten.
    // Snapshot isolation across MOR commits rides along: the merged
    // version still serves its pre-delete state THROUGH its masks.
    "q_acid15" -> ((s, d) => {
      val (root, vm, vd, rw) = acidMor(s, d)
      Seq(("deleted", vd), ("merged", vm)).map { case (stage, v) =>
        AcidTable.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(stage).as("stage"), col("n"), col("sum_cents"),
            lit(rw).as("files_rewritten"))
      }.reduce(_.unionByName(_)).orderBy("stage")
    }),

    // Q-ACID16 (round 13): ROW-GROUP-granularity skipping — a 16-month
    // predicate over ONE ship_day-sorted file written as many small row
    // groups: the manifest admits the file (files_scanned=1, pinned), the
    // footer's per-block ranges exclude most of its row groups
    // (rg_pruned=1, pinned), and the row answer comes THROUGH the pruned
    // plan (predicate pushed to the parquet reader), so an over-eager
    // block count would break n/sum, not just flags. The exact block
    // geometry is writer-dependent — the pinned facts are the
    // scanned<total and scanned>0 properties, the exact counts are
    // AcidMorSpec's.
    "q_acid16" -> ((s, d) => {
      val root = acidRgRoot(s, d)
      val Seq(d1, d2) = Seq("1996-03-01", "1997-06-30").map { dt =>
        java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse("1970-01-01"), java.time.LocalDate.parse(dt))
      }
      val pr = AcidTable.readWhereRowGroups(s, root, 1L,
        Seq(AcidTable.ColRange("ship_day", d1, d2)))
      pr.df.agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("ship_day").as("min_day"), max("ship_day").as("max_day"))
        .select(lit(pr.filesScanned.toLong).as("files_scanned"),
          lit(if (pr.rowGroupsScanned > 0) 1L else 0L).as("rg_scanned_nonzero"),
          lit(if (pr.rowGroupsScanned < pr.rowGroupsTotal) 1L else 0L)
            .as("rg_pruned"),
          col("n"), col("sum_cents"), col("min_day"), col("max_day"))
    }),

    // Q-ACID17 (round 13): STRING-keyed MERGE-ON-READ — the reference's
    // per-symbol daily upsert (q_acid13's workload) as deletion-vector
    // commits: the band-0 replaced names are masked through the STRING
    // stats locate, the update rows land as new files, and the
    // file-granularity facts are oracle-pinned the other way around from
    // q_acid13 — files_masked=1 (only band 0 can hold an update name),
    // files_rewritten=0 (the point of MOR). Same band rollup as q_acid13,
    // read THROUGH the masks.
    "q_acid17" -> ((s, d) => {
      val (root, v, maxk, masked, rewritten) = acidStrMor(s, d)
      AcidTable.readAsOf(s, root, v)
        .groupBy(expr(s"(k * 8) div ${maxk + 1}").as("band"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("band"), col("n"), col("sum_cents"),
          lit(masked.toLong).as("files_masked"),
          lit(rewritten.toLong).as("files_rewritten"))
        .orderBy("band")
    }),

    // Q-ACID18 (round 13): the ACID table through the DataSourceV2 BATCH
    // surface — spark.read.format("graft-acid") with time travel
    // (asOfVersion) over the MOR chain's deleted version: the rollup must
    // equal q_acid15's 'deleted' stage, which oracle-checks BOTH the
    // custom per-file parquet Group decode AND the reader-side
    // deletion-vector masking (masked rows skipped at decode time, no
    // join) against DuckDB.
    "q_acid18" -> ((s, d) => {
      val (root, _, vd, _) = acidMor(s, d)
      s.read.format("graft-acid").option("root", root)
        .option("asOfVersion", vd.toString).load()
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("status")
    }),

    // Q-ACID19 (round 13): write-time EXPECTATIONS (Delta CHECK / DLT
    // expectations at the commit gate): planted violations split at
    // commit — passing rows per status from the table, violating rows per
    // __violations tag from the quarantine table (nothing silently
    // dropped: accepted ∪ quarantined == the input, and the oracle
    // replays BOTH splits from orders, including the rows that violate
    // two expectations at once).
    "q_acid19" -> ((s, d) => {
      val (root, v, qv, _) = acidExpectRoot(s, d)
      val good = AcidTable.readAsOf(s, root, v)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit("accepted").as("side"), col("status").as("grp"),
          col("n"), col("sum_cents"))
      val bad = AcidTable.readAsOf(s, s"$root/_quarantine", qv)
        .groupBy("__violations")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit("quarantined").as("side"), col("__violations").as("grp"),
          col("n"), col("sum_cents"))
      good.unionByName(bad).orderBy("side", "grp")
    }),

    // Q-ACID20 (round 13): RESTORE — the audited rollback: v3 re-publishes
    // v1's file list under the 'restore' action, so the current state
    // equals the pre-corruption state EXACTLY while the bad v2 stays
    // readable for forensics (all three versions' rollups + actions in
    // one oracle-checked frame; v3's numbers must equal v1's with only
    // (version, action) differing).
    "q_acid20" -> ((s, d) => {
      val root = acidRestoreRoot(s, d)
      AcidTable.history(s, root).map { case (v, action, _) =>
        AcidTable.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), lit(action).as("action"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    // Q-ACID21 (round 14): FILTER PUSHDOWN through the DSv2 surface —
    // the q_acid4 skipping workload issued as a plain
    // spark.read.format("graft-acid").load().where(...): Spark's pushed
    // filters become ScanRanges, the manifest stats prune entries at
    // planInputPartitions (files_scanned IS the partition count — the
    // prune is structural, not advisory), and the surviving files'
    // readers push the same ranges into parquet row-group filters. The
    // oracle replays the per-bucket stats prune AND the data rollup, so
    // both the file-level decision and the row answer are hash-pinned.
    "q_acid21" -> ((s, d) => {
      val (root, nFiles, maxk, _) = acidZ(s, d)
      val df = s.read.format("graft-acid").option("root", root).load()
        .where(col("k").between(maxk / 4, maxk / 2) &&
               col("cents").between(10000000L, 30000000L))
      val filesScanned = df.rdd.getNumPartitions.toLong
      df.agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(nFiles).as("files_total"),
          lit(filesScanned).as("files_scanned"), col("n"), col("sum_cents"))
    }),

    // Q-ACID22 (round 14): the DSv2 WRITE path — a standard
    // df.write append and a truncate-overwrite land as manifest
    // versions (task-written parquet, driver rebase commit), and all
    // three versions' rollups + action literals are oracle-replayed.
    // The append's rows went through the task-side Group ENCODER and
    // come back through DuckDB's own parquet reader, so the encode is
    // checked by a THIRD engine, not just our decoder.
    "q_acid22" -> ((s, d) => {
      val root = acidDsv2Root(s, d)
      AcidTable.history(s, root).map { case (v, action, _) =>
        AcidTable.readAsOf(s, root, v)
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), lit(action).as("action"),
            col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    // Q-ACID23 (round 14): expectations at the MERGE gate — the clean
    // split of a planted-violation upsert merges COW (accepted rollup
    // per status), the violating split lands in _quarantine tagged with
    // the failed expectation (token-idempotent, replay require()d in the
    // fixture); accepted ∪ quarantined == the input upsert, and the
    // oracle replays BOTH splits from orders.
    "q_acid23" -> ((s, d) => {
      val (root, v, qv) = acidMergeExpectRoot(s, d)
      val good = AcidTable.readAsOf(s, root, v)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit("accepted").as("side"), col("status").as("grp"),
          col("n"), col("sum_cents"))
      val bad = AcidTable.readAsOf(s, s"$root/_quarantine", qv)
        .groupBy("__violations")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit("quarantined").as("side"),
          col("__violations").as("grp"), col("n"), col("sum_cents"))
      good.unionByName(bad).orderBy("side", "grp")
    }),

    // Q-ACID24 (round 14): auto-maintenance from the physical gauges —
    // the churned fixture crosses both thresholds, maintain() runs
    // compactDvs then compactSmall (the action list is oracle-pinned),
    // the table lands at exactly targetFiles clean files (pinned), and
    // the rollup THROUGH the maintained state equals the logical answer
    // (maintenance changes layout, never answers).
    "q_acid24" -> ((s, d) => {
      val (root, actions) = acidMaintainRoot(s, d)
      val entries = AcidTable.entriesOf(s, root,
        AcidTable.currentVersion(s, root))
      AcidTable.read(s, root)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(actions.mkString(",")).as("actions"),
          lit(entries.length.toLong).as("files_after"),
          lit(entries.count(_.dv.isDefined).toLong).as("masks_after"),
          col("status"), col("n"), col("sum_cents"))
        .orderBy("status")
    }),

    // Q-ACID25 (round 14): the SQL surface — the q_acid1 fixture read
    // through a registered TableCatalog with Spark's OWN `VERSION AS OF`
    // time-travel syntax (the first thing an analyst types at a
    // lakehouse). The three versions' per-status rollups must equal the
    // API-path q_acid1 numbers, which the oracle replays from orders —
    // so catalog resolution, the DSv2 scan under SQL, and the version
    // pinning are all hash-checked at once.
    "q_acid25" -> ((s, d) => {
      val root = acidRoot(s, d)
      val f = new java.io.File(root)
      s.conf.set("spark.sql.catalog.acid", "graft.sources.AcidCatalog")
      s.conf.set("spark.sql.catalog.acid.root", f.getParent)
      val t = s"acid.`${f.getName}`"
      s.sql(
        s"""SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
           |  count(*) AS n, sum(cents) AS sum_cents
           |FROM $t VERSION AS OF 1 GROUP BY o_orderstatus
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), o_orderstatus, count(*), sum(cents)
           |FROM $t VERSION AS OF 2 GROUP BY o_orderstatus
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), o_orderstatus, count(*), sum(cents)
           |FROM $t VERSION AS OF 3 GROUP BY o_orderstatus
           |ORDER BY version, o_orderstatus""".stripMargin)
    }),

    // Q-ACID26 (round 14): the CHANGE DATA FEED — per-version,
    // per-change-kind rollups of the commit-time change files (insert /
    // update_preimage / update_postimage / delete, full rows): v1's
    // insert feed synthesizes from the appended files, v2/v3 read the
    // #cdc parquet the merge/delete wrote. The oracle replays every
    // version's logical delta from orders — preimages at ORIGINAL
    // cents, the delete feed through the post-merge state.
    "q_acid26" -> ((s, d) => {
      val root = acidCdcRoot(s, d)
      (1L to 3L).map { v =>
        AcidTable.changeFeedOf(s, root, v).get
          .groupBy("_change_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"),
            col("_change_type").as("change_type"), col("n"),
            col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version", "change_type")
    }),

    // Q-ACID27 (round 14): METADATA-ONLY aggregates — count(*)/min/max
    // over the z-bucketed base version answered from the MANIFEST (file
    // row counts + min/max stats fold on the driver; the scan is one
    // constant row). metadata_only=1 is derived from the EXECUTED plan
    // (the AcidAggScan marker) and oracle-pinned, so the gate fails if
    // the pushdown ever silently stops serving; the values replay from
    // orders. At 100 TB this is O(manifest) vs a full table read for
    // the first question anyone asks a table.
    "q_acid27" -> ((s, d) => {
      val (root, nf, _, _) = acidZ(s, d)
      // round 15: the matrix grows SUM — served from the `sum:`
      // segments the table's sumCols property had every commit record
      val agg = s.read.format("graft-acid").option("root", root)
        .option("asOfVersion", nf.toString).load()
        .selectExpr("count(*) AS n", "min(k) AS min_k", "max(k) AS max_k",
          "min(cents) AS min_cents", "max(cents) AS max_cents",
          "sum(k) AS sum_k", "sum(cents) AS sum_cents")
      val servedMeta = agg.queryExecution.executedPlan.toString
        .contains("metadata-only aggregate")
      agg.select(lit(if (servedMeta) 1L else 0L).as("metadata_only"),
        col("n"), col("min_k"), col("max_k"), col("min_cents"),
        col("max_cents"), col("sum_k"), col("sum_cents"))
    }),

    // Q-ACID29 (round 15): CDC FROM SQL DML — enableCdc + MERGE INTO
    // on a merge-keyed table: the delta-based commit masks replaced
    // rows where they sit (all_carried=1, n_masked>0 pin the
    // files_rewritten=0 economics) AND publishes its keyed logical
    // delta, which the change feed / CDC stream serve as files. The
    // oracle replays the pre/post/insert split from orders.
    "q_acid29" -> ((s, d) => {
      val (root, allCarried, nMasked) = acidSqlCdcRoot(s, d)
      AcidTable.changeFeedOf(s, root, 2L).get
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("_change_type").as("change_type"), col("n"),
          col("sum_cents"), lit(allCarried).as("all_carried"),
          lit(if (nMasked > 0) 1L else 0L).as("has_masks"))
        .orderBy("change_type")
    }),

    // Q-ACID30 (round 15): DELTA SQL DELETE — the range-bucketed
    // fixture makes the FILE facts oracle-replayable: files_masked is
    // exactly the buckets whose k-range overlaps the deleted range,
    // all_carried=1 says no data file was rewritten, and the survivor
    // rollup must equal the relational answer.
    "q_acid30" -> ((s, d) => {
      val (root, filesTotal, filesMasked, allCarried, lo, hi) =
        acidDeltaDmlRoot(s, d)
      AcidTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(filesTotal).as("files_total"),
          lit(filesMasked).as("files_masked"),
          lit(allCarried).as("all_carried"),
          lit(lo).as("lo"), lit(hi).as("hi"), col("n"), col("sum_cents"))
    }),

    // Q-ACID31 (round 15): DDL end-to-end — a CTAS-created table (v1,
    // atomic, TBLPROPERTIES wired statsCols+key) plus an INSERT INTO
    // append (v2): per-status rollups of both versions and the action
    // trail, all replayed from orders by the oracle.
    "q_acid31" -> ((s, d) => {
      val root = acidCtasRoot(s, d)
      val actions = AcidTable.history(s, root).map(_._2).mkString(",")
      (1L to 2L).map { v =>
        AcidTable.readAsOf(s, root, v)
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .select(lit(v).as("version"), lit(actions).as("actions"),
            col("status"), col("n"), col("sum_cents"))
      }.reduce(_.unionByName(_)).orderBy("version", "status")
    }),

    // Q-ACID32 (round 15): WRITE-SIDE SCHEMA EVOLUTION — after the
    // drifted mergeSchema append, the table's schema is the widened
    // union (pinned as a literal), old rows read with region NULL and
    // cents upcast int->bigint, and v1 still time-travels under its
    // own narrow schema (its column list pinned too).
    "q_acid32" -> ((s, d) => {
      val root = acidEvolveRoot(s, d)
      val schemaNow = AcidTable.currentSchema(s, root).fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      val v1Cols = AcidTable.readAsOf(s, root, 1L)
        .schema.fieldNames.mkString(",")
      AcidTable.read(s, root)
        .groupBy(coalesce(col("region"), lit("none")).as("region"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(schemaNow).as("schema_now"), lit(v1Cols).as("v1_cols"),
          col("region"), col("n"), col("sum_cents"))
        .orderBy("region")
    }),

    // Q-ACID28 (round 14): SQL DELETE + MERGE INTO through the
    // group-based row-level operation — the final state rollup and the
    // commit-action trail are oracle-replayed from orders: Spark's
    // rewrite computed the surviving/merged rows, the engine's rebase
    // commit replaced exactly the scanned groups, and every number must
    // land as if the upsert had been applied relationally.
    "q_acid28" -> ((s, d) => {
      val root = acidSqlDmlRoot(s, d)
      val actions = AcidTable.history(s, root).map(_._2).mkString(",")
      AcidTable.read(s, root)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit(actions).as("actions"), col("status"), col("n"),
          col("sum_cents"))
        .orderBy("status")
    }),

    // Q-SCAN1: parquet scan + projection + total sort.
    "q_scan1" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        // (l_orderkey, l_linenumber) is NOT unique in the fixture — order
        // by every output column for a total, engine-independent order.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")),

    // Q-SCAN2: predicate-pruned scan (filter reaches the parquet reader as
    // PushedFilters; the partitioned-layout variant is unit-tested).
    "q_scan2" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
               col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")),

    // Q-SCAN3: dirty-typed parse/cast (reference screener CSV semantics,
    // `company_symbols.csv:2` $/%/comma-laden numerics; R13 screen).
    "q_scan3" -> ((s, d) =>
      Tables.load(s, d, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("name_id"),
        upper(split_part(col("c_name"), lit("#"), lit(1))).as("name_prefix"),
        IngestEgress.parseDirtyNumber(
          concat(lit(" $"), col("c_custkey").cast("string"), lit(",50 "))).as("parsed_money"))
        .orderBy("c_custkey")),

    // Q-SINK1: relational shadow of the Hive-partitioned write — the
    // per-partition manifest (the write itself is unit-tested on a tmp dir).
    "q_sink1" -> ((s, d) =>
      IngestEgress.partitionManifest(Tables.load(s, d, "orders"),
        Seq(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("o_year")))
        .orderBy("o_orderstatus", "o_year")),

    // Salted two-phase aggregation over an exact (long cents) column —
    // result equals the plain GROUP BY, so it is oracle-checked: proof
    // that the hot-key path changes the plan, not the answer.
    "q_skew1" -> ((s, d) => {
      val withCents = Tables.load(s, d, "lineitem")
        .withColumn("qty_cents", round(col("l_quantity") * 100).cast("long"))
      graft.operators.SkewOps.twoPhaseSum(withCents, Seq("l_returnflag"),
        Seq("qty_cents"), buckets = 8)
        .select(col("l_returnflag"), col("n_rows"), col("sum_qty_cents"))
        .orderBy("l_returnflag")
    }),

    // Q-DQ2 (round 5): single-pass column profile of orders — per column
    // row/null/exact-distinct counts (the completeness table published
    // next to every landed dataset). Multi-distinct runs through Expand;
    // at 100 TB the same shape swaps countDistinct for the Q-AGG4 HLL.
    "q_dq2" -> ((s, d) =>
      graft.operators.DataQuality.profile(Tables.load(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate"))
        .orderBy("col_name")),

    // Q-DQ3 (round 5): referential-integrity audit — orphan detection on
    // the two lineitem foreign keys (the join-loss a silent inner join
    // would eat). One left join + one aggregate per key => hash-exact.
    "q_dq3" -> ((s, d) => {
      import graft.operators.DataQuality
      val li = Tables.load(s, d, "lineitem")
      DataQuality.fkAudit(li, "l_orderkey", Tables.load(s, d, "orders"), "o_orderkey")
        .select(lit("l_orderkey->orders").as("fk"), col("*"))
        .unionByName(
          DataQuality.fkAudit(li, "l_suppkey", Tables.load(s, d, "supplier"), "s_suppkey")
            .select(lit("l_suppkey->supplier").as("fk"), col("*")))
        .orderBy("fk")
    }),

    // Q-DQ5 (round 7): functional-dependency audit — schema discovery /
    // denormalization safety: does lhs determine rhs? Four audited pairs
    // spanning a holding FD (orderkey is a real key) and the known
    // non-determining ones; one aggregation per pair. All integer =>
    // hash-exact.
    "q_dq5" -> ((s, d) => {
      import graft.operators.DataQuality
      val ord = Tables.load(s, d, "orders")
      val li = Tables.load(s, d, "lineitem")
      DataQuality.fdAudit(ord, "o_orderkey->o_custkey",
          Seq("o_orderkey"), "o_custkey")
        .unionByName(DataQuality.fdAudit(ord, "o_custkey->o_orderpriority",
          Seq("o_custkey"), "o_orderpriority"))
        .unionByName(DataQuality.fdAudit(li, "l_orderkey->l_partkey",
          Seq("l_orderkey"), "l_partkey"))
        .unionByName(DataQuality.fdAudit(li, "l_orderkey,l_linenumber->l_quantity",
          Seq("l_orderkey", "l_linenumber"), "l_quantity"))
        .orderBy("fd")
    }),

    // Q-DQ7 (round 10): cross-table reconciliation audit — the "did the
    // copy land" check after every replication/backfill: per key-bucket
    // row counts + order-independent XOR-of-xxhash64 checksums on both
    // sides, full-outer-joined into a verdict table (a diverging bucket
    // localizes damage to 1/64 of the keyspace without comparing rows).
    // Fixture: the destination is the source with every 997th orderkey's
    // cents perturbed by +1 — some buckets corrupt, some clean, so both
    // verdict branches are live. Checksums replay exactly in DuckDB via
    // XxhashSql.hashLong2Cte => hash-exact.
    "q_dq7" -> ((s, d) => {
      import graft.operators.DataQuality
      val src = Tables.load(s, d, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      val dst = src.withColumn("cents",
        when(pmod(col("o_orderkey"), lit(997L)) === 0, col("cents") + 1L)
          .otherwise(col("cents")))
      DataQuality.reconcile(src, dst, "o_orderkey", "cents", nBuckets = 64)
        .orderBy("bucket")
    }),

    // Q-SKEW2 (round 5): key-skew diagnostics — the top-10 heaviest event
    // users with share + skew ratio (measure BEFORE you salt: the report
    // that justifies q_skew1's two-phase path). One aggregation + a
    // distributed top-k + a one-row totals broadcast => hash-exact.
    "q_skew2" -> ((s, d) =>
      graft.operators.SkewOps.skewReport(Tables.load(s, d, "events"),
        "user_id", topK = 10)),

    // Q-SINK2: stable batch ids of 100 over ordered keys (reference R3).
    "q_sink2" -> ((s, d) =>
      Batching.withBatchNum(Tables.load(s, d, "customer").select("c_custkey"), "c_custkey", 100)
        .orderBy("c_custkey")),

    // Custom DataSourceV2 scan (reference R5's acquisition as a real Spark
    // source): deterministic OHLCV via spark.read.format("graft-ohlcv").
    // Rows-only — no fixture table to oracle against; bitwise equality
    // with the expression generator and plan shape are unit-tested
    // (OhlcvSourceSpec).
    "q_src1" -> ((s, _) =>
      graft.pipeline.StockPipeline.acquirePrices(
        s, Seq("AAPL", "AMZN", "GOOG", "MSFT"), "2024-01-01", 60)
        .orderBy("company", "Date")),

    // Q-SCAN4: table stats from parquet footer metadata — COUNT/MIN/MAX
    // answered from row-group statistics without reading rows (plan-
    // asserted PushedAggregation; the 100 TB "how big is this table"
    // query at metadata cost).
    "q_scan4" -> ((s, d) =>
      IngestEgress.footerStatsScan(s, s"$d/lineitem.parquet")(Seq(
        count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty")))),

    // Data-quality validation report (the Deequ/expectations pattern):
    // named constraint metrics — nulls, key dups, domain and range
    // violations — in ONE map-side-combined aggregation pass, long-form.
    "q_dq1" -> ((s, d) => {
      import graft.operators.DataQuality
      DataQuality.report(Tables.load(s, d, "orders"), Seq(
        "n_rows" -> count(lit(1)),
        "null_orderdate" -> DataQuality.nullCount(col("o_orderdate")),
        "dup_orderkey" -> DataQuality.duplicateKeys(col("o_orderkey")),
        "nonpositive_totalprice" -> DataQuality.violations(col("o_totalprice") <= 0),
        "bad_status_domain" ->
          DataQuality.violations(!col("o_orderstatus").isin("O", "F", "P")),
        "stale_orderdate" -> DataQuality.violations(
          col("o_orderdate") < lit("1992-01-01").cast("timestamp"))))
        .orderBy("check_name")
    }),

    // Q-DQ6 (round 9): Benford first-digit audit — the forensic
    // data-quality classic: the leading-digit distribution of order
    // totals against Benford's law, with the per-digit chi-square
    // contribution (fabricated/truncated monetary data fails this gate).
    // The nine expectations are FIXED 6dp literals (round(log10(1+1/d)))
    // — identical text on both engines, NO runtime log10, so the only
    // IEEE ops are the fixed expected/chi trees over exact counts.
    // Digit extraction is exact (first char of the positive integer
    // cents). One aggregation + a one-row total broadcast; 9 rows out.
    "q_dq6" -> ((s, d) => {
      def dd(c: Column) = c.cast("double")
      val base = Tables.load(s, d, "orders")
        .select(round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
        .where(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).cast("long")
          .as("digit"))
      val obs = base.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = base.agg(count(lit(1)).as("n"))
      val p = element_at(array(BenfordP.map(lit): _*), col("digit").cast("int"))
      val expected = dd(col("n")) * p
      obs.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"), expected.as("expected"),
          ((dd(col("n_obs")) - expected) * (dd(col("n_obs")) - expected) /
            expected).as("chi2_term"))
        .orderBy("digit")
    }),

    // Q-SINK3: the same batch ids via the fact-scale two-pass path
    // (repartitionByRange + zipWithIndex) — identical answer to the
    // single-partition window form, no SinglePartition stage in the plan.
    "q_sink3" -> ((s, d) =>
      Batching.batchByRange(Tables.load(s, d, "orders")
          .select("o_orderkey"), col("o_orderkey"), 1000)
        .orderBy("o_orderkey")),

    // Q-LAYOUT1: Z-order clustering key (Morton interleave of partkey and
    // suppkey) — the write-layout step behind multi-column min/max file
    // skipping. The z-value is pure shift/mask arithmetic, so it is
    // oracle-checked bit-for-bit; the skipping benefit (narrow per-file
    // spans on BOTH columns) is measured in LayoutSpec.
    "q_layout1" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          graft.operators.Layout.zValue(Seq(col("l_partkey"), col("l_suppkey")), 16).as("z"))
        .orderBy("z", "l_orderkey", "l_linenumber", "l_partkey")),
  )

  def oracleSql: Map[String, String] = Map(
    "q_dq8" ->
      """WITH inv(gen, col_name, data_type) AS (VALUES
        |  (1, 'k', 'bigint'), (1, 'price_cents', 'int'), (1, 'status', 'string'),
        |  (1, 'region', 'string'), (1, 'note', 'string'),
        |  (2, 'k', 'bigint'), (2, 'price_cents', 'bigint'), (2, 'status', 'string'),
        |  (2, 'region_name', 'string'), (2, 'note', 'string'),
        |  (3, 'k', 'bigint'), (3, 'price_cents', 'double'), (3, 'status', 'bigint'),
        |  (3, 'region_name', 'string'), (3, 'note', 'string')),
        |cp AS (
        |  SELECT gen, col_name, data_type,
        |    lag(data_type) OVER w AS prev,
        |    CASE data_type WHEN 'int' THEN 1 WHEN 'bigint' THEN 2
        |      WHEN 'double' THEN 3 END AS r,
        |    CASE lag(data_type) OVER w WHEN 'int' THEN 1 WHEN 'bigint' THEN 2
        |      WHEN 'double' THEN 3 END AS rp
        |  FROM inv WINDOW w AS (PARTITION BY col_name ORDER BY gen)),
        |cp2 AS (SELECT * FROM cp WHERE prev IS NULL OR prev <> data_type),
        |percol AS (
        |  SELECT col_name,
        |    string_agg(data_type, '->' ORDER BY gen) AS type_history,
        |    bool_or(prev IS NOT NULL AND r IS NOT NULL AND rp IS NOT NULL
        |      AND r > rp) AS widened,
        |    bool_or(prev IS NOT NULL AND r IS NOT NULL AND rp IS NOT NULL
        |      AND r < rp) AS narrowed,
        |    bool_or(prev IS NOT NULL AND (r IS NULL OR rp IS NULL)) AS conflict,
        |    CASE WHEN max(r) IS NULL THEN max(data_type)
        |         WHEN max(r) = 3 THEN 'double'
        |         WHEN max(r) = 2 THEN 'bigint'
        |         ELSE 'int' END AS widest
        |  FROM cp2 GROUP BY 1),
        |presence AS (
        |  SELECT col_name, CAST(MIN(gen) AS BIGINT) AS first_gen,
        |    CAST(MAX(gen) AS BIGINT) AS last_gen,
        |    CAST(COUNT(*) AS BIGINT) AS n_gens
        |  FROM inv GROUP BY 1),
        |mg AS (SELECT MAX(gen) AS m FROM inv),
        |lastt AS (SELECT col_name, arg_max(data_type, gen) AS lt,
        |    MAX(gen) AS lg FROM inv GROUP BY 1),
        |firstt AS (SELECT col_name AS cand, arg_min(data_type, gen) AS ft,
        |    MIN(gen) AS fg FROM inv GROUP BY 1),
        |ren AS (
        |  SELECT l.col_name, MIN(f.cand) AS renamed_to
        |  FROM lastt l, mg, firstt f
        |  WHERE l.lg < mg.m AND f.fg > 1 AND f.fg = l.lg + 1 AND l.lt = f.ft
        |  GROUP BY 1)
        |SELECT p.col_name, p.first_gen, p.last_gen, p.n_gens, pc.type_history,
        |  pc.widened, pc.narrowed, pc.conflict,
        |  CASE WHEN NOT pc.conflict THEN pc.widest END AS reader_type,
        |  ren.renamed_to
        |FROM presence p
        |JOIN percol pc USING (col_name)
        |LEFT JOIN ren USING (col_name)
        |ORDER BY col_name""".stripMargin,

    "q_acid1" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 10 < 5),
        |v2 AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN cents*2 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 10 BETWEEN 2 AND 7),
        |v3 AS (SELECT * FROM v2
        |  UNION ALL SELECT * FROM base WHERE o_orderkey % 10 = 8)
        |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), o_orderstatus,
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |FROM v2 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), o_orderstatus,
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |FROM v3 GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin,

    "q_acid3" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 10 < 5),
        |v2 AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN cents*2 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 10 BETWEEN 2 AND 7),
        |v3 AS (SELECT * FROM v2
        |  UNION ALL SELECT * FROM base WHERE o_orderkey % 10 = 8)
        |SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
        |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'overwrite',
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'append',
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT) FROM v3
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'compact',
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT) FROM v3
        |ORDER BY version""".stripMargin,

    // The z-bucketed fixture's per-FILE footer stats equal per-BUCKET
    // aggregates by construction (one nonempty bucket = one single-file
    // commit), so the prune decision replays as relational algebra: a
    // file is scanned iff its (k, cents) rectangle overlaps the ranges.
    "q_acid4" -> {
      val zsql = graft.operators.Layout.zValueSql(Seq("ks", "cs"), 10)
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
         |  FROM orders),
         |m AS (SELECT max(k) AS maxk, max(cents) AS maxc FROM base),
         |sc AS (SELECT b.k, b.cents,
         |    (b.k * 1024) // (m.maxk + 1) AS ks,
         |    (b.cents * 1024) // (m.maxc + 1) AS cs
         |  FROM base b, m),
         |zb AS (SELECT k, cents, $zsql AS z FROM sc),
         |f AS (SELECT z // 65536 AS b, min(k) AS mink, max(k) AS maxk2,
         |    min(cents) AS minc, max(cents) AS maxc2
         |  FROM zb GROUP BY 1),
         |scan AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS files_total,
         |    CAST(count(*) AS BIGINT) AS files_scanned
         |  FROM f, m
         |  WHERE f.maxk2 >= m.maxk // 4 AND f.mink <= m.maxk // 2
         |    AND f.maxc2 >= 10000000 AND f.minc <= 30000000),
         |dat AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS sum_cents
         |  FROM base, m
         |  WHERE k BETWEEN m.maxk // 4 AND m.maxk // 2
         |    AND cents BETWEEN 10000000 AND 30000000)
         |SELECT files_total, files_scanned, n, sum_cents
         |FROM scan, dat""".stripMargin
    },

    // The q_acid4 replay, served through the DSv2 batch surface with the
    // predicate PUSHED: files_scanned is the plan's partition count, so
    // the oracle pins that Spark's own filter pushdown reached the
    // manifest stats (not just that the rows came back right).
    "q_acid21" -> {
      val zsql = graft.operators.Layout.zValueSql(Seq("ks", "cs"), 10)
      s"""WITH base AS (
         |  SELECT o_orderkey AS k,
         |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
         |  FROM orders),
         |m AS (SELECT max(k) AS maxk, max(cents) AS maxc FROM base),
         |sc AS (SELECT b.k, b.cents,
         |    (b.k * 1024) // (m.maxk + 1) AS ks,
         |    (b.cents * 1024) // (m.maxc + 1) AS cs
         |  FROM base b, m),
         |zb AS (SELECT k, cents, $zsql AS z FROM sc),
         |f AS (SELECT z // 65536 AS b, min(k) AS mink, max(k) AS maxk2,
         |    min(cents) AS minc, max(cents) AS maxc2
         |  FROM zb GROUP BY 1),
         |scan AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS files_total,
         |    CAST(count(*) AS BIGINT) AS files_scanned
         |  FROM f, m
         |  WHERE f.maxk2 >= m.maxk // 4 AND f.mink <= m.maxk // 2
         |    AND f.maxc2 >= 10000000 AND f.minc <= 30000000),
         |dat AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS sum_cents
         |  FROM base, m
         |  WHERE k BETWEEN m.maxk // 4 AND m.maxk // 2
         |    AND cents BETWEEN 10000000 AND 30000000)
         |SELECT files_total, files_scanned, n, sum_cents
         |FROM scan, dat""".stripMargin
    },

    // The DSv2 write-path replay: v1 bootstrap, v2 the pushed-through
    // append (+7 cents), v3 the truncate-overwrite (x3 cents on even
    // keys) — rollups and action literals per version.
    "q_acid22" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT k, cents FROM base WHERE k % 10 < 3),
        |v2 AS (SELECT k, cents FROM v1
        |  UNION ALL
        |  SELECT k, cents + 7 FROM base WHERE k % 10 BETWEEN 3 AND 6),
        |v3 AS (SELECT k, cents * 3 AS cents FROM base WHERE k % 2 = 0)
        |SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'overwrite',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM v3
        |ORDER BY version""".stripMargin,

    // The change-data-feed replay: every version's logical delta from
    // orders — v1 all-insert, v2 pre/post/insert split of the upsert,
    // v3 the range delete through the post-merge state.
    "q_acid26" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |pre AS (SELECT k, cents FROM base WHERE k % 13 = 0),
        |post AS (SELECT k, cents + 3 AS cents FROM pre),
        |ins AS (SELECT k + m.maxk + 1 AS k, cents + 9 AS cents
        |  FROM base, m WHERE k % 17 = 5),
        |del AS (SELECT k,
        |    CASE WHEN k % 13 = 0 THEN cents + 3 ELSE cents END AS cents
        |  FROM base, m WHERE k BETWEEN m.maxk // 4 AND m.maxk // 3)
        |SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents FROM base
        |UNION ALL SELECT CAST(2 AS BIGINT), 'insert',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ins
        |UNION ALL SELECT CAST(2 AS BIGINT), 'update_preimage',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM pre
        |UNION ALL SELECT CAST(2 AS BIGINT), 'update_postimage',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM post
        |UNION ALL SELECT CAST(3 AS BIGINT), 'delete',
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM del
        |ORDER BY version, change_type""".stripMargin,

    // Metadata-only aggregates: the values replay from orders; the
    // metadata_only flag pins that the executed plan was the manifest
    // fold, not a data scan.
    "q_acid27" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS metadata_only,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM base""".stripMargin,

    // CDC from SQL MERGE: the keyed delta replayed from orders —
    // matched keys (k%7=0) as pre/postimage at original/+5 cents, the
    // shifted not-matched keys (k%11=4) as inserts at +9; the file
    // facts (nothing rewritten, masks present) are constants 1.
    "q_acid29" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |pre AS (SELECT k, cents FROM base WHERE k % 7 = 0),
        |ins AS (SELECT cents + 9 AS cents FROM base WHERE k % 11 = 4)
        |SELECT * FROM (
        |  SELECT 'insert' AS change_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(1 AS BIGINT) AS all_carried, CAST(1 AS BIGINT) AS has_masks
        |  FROM ins
        |  UNION ALL
        |  SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |    CAST(sum(cents) AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM pre
        |  UNION ALL
        |  SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |    CAST(sum(cents + 5) AS BIGINT), CAST(1 AS BIGINT),
        |    CAST(1 AS BIGINT)
        |  FROM pre)
        |ORDER BY change_type""".stripMargin,

    // Delta SQL DELETE file facts: the range-bucketed layout makes
    // files_masked == buckets whose k-range overlaps [lo, hi]; nothing
    // rewritten; survivors' rollup relational.
    "q_acid30" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |f AS (SELECT (k * 8) // (m.maxk + 1) AS b, min(k) AS mink,
        |    max(k) AS maxk2
        |  FROM base, m GROUP BY 1),
        |facts AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS files_total,
        |    CAST(count(*) AS BIGINT) AS files_masked
        |  FROM f, m
        |  WHERE f.maxk2 >= m.maxk // 4 AND f.mink <= m.maxk // 3),
        |surv AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base, m WHERE k NOT BETWEEN m.maxk // 4 AND m.maxk // 3)
        |SELECT files_total, files_masked, CAST(1 AS BIGINT) AS all_carried,
        |  CAST(m.maxk // 4 AS BIGINT) AS lo, CAST(m.maxk // 3 AS BIGINT) AS hi,
        |  n, sum_cents
        |FROM facts, surv, m""".stripMargin,

    // CTAS + INSERT INTO replay: v1 = the k%3=0 slice (atomic CTAS,
    // action 'overwrite'), v2 adds the k%3=1 slice ('append').
    "q_acid31" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE k % 3 = 0),
        |v2 AS (SELECT * FROM base WHERE k % 3 IN (0, 1))
        |SELECT CAST(1 AS BIGINT) AS version,
        |  'overwrite,append' AS actions, status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY status
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'overwrite,append', status,
        |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM v2 GROUP BY status
        |ORDER BY version, status""".stripMargin,

    // Schema-evolution replay: even keys committed narrow (cents INT,
    // no region -> 'none'), odd keys drifted in wide (+region); the
    // widened schema and v1's narrow column list are pinned literals.
    "q_acid32" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |rows_ AS (
        |  SELECT 'none' AS region, cents FROM base WHERE k % 2 = 0
        |  UNION ALL
        |  SELECT 'R' || CAST(k % 3 AS VARCHAR), cents FROM base
        |  WHERE k % 2 = 1)
        |SELECT 'k:bigint,status:string,cents:bigint,region:string'
        |    AS schema_now,
        |  'k,status,cents' AS v1_cols, region,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM rows_ GROUP BY region ORDER BY region""".stripMargin,

    // SQL DELETE + MERGE INTO replay: survivors of the delete, minus
    // source keys, union the source (matched rows keep the table's
    // status, which equals the source's — same base row).
    "q_acid28" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |del AS (SELECT * FROM base WHERE k % 10 <> 3),
        |src AS (SELECT k, status, cents + 5 AS cents FROM base
        |    WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k + m.maxk + 1, status, cents + 9 FROM base, m
        |    WHERE k % 11 = 4),
        |fin AS (SELECT d.k, d.status, d.cents FROM del d
        |    WHERE d.k NOT IN (SELECT k FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT 'append,merge,merge' AS actions, status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY status ORDER BY status""".stripMargin,

    // The q_acid1 replay, served through the SQL catalog's VERSION AS OF.
    "q_acid25" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 10 < 5),
        |v2 AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN cents*2 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 10 BETWEEN 2 AND 7),
        |v3 AS (SELECT * FROM v2
        |  UNION ALL SELECT * FROM base WHERE o_orderkey % 10 = 8)
        |SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM v1 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), o_orderstatus,
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |FROM v2 GROUP BY o_orderstatus
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), o_orderstatus,
        |  CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
        |FROM v3 GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin,

    // Expectations at the merge gate: the q_acid5 upsert with planted
    // violations (frame key % 11 == 0 -> negated cents) — accepted =
    // base upserted by the CLEAN split only; quarantined = the planted
    // rows, tagged. Both splits replayed from orders.
    "q_acid23" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status,
        |    CASE WHEN k % 11 = 0 THEN -(cents + 11) ELSE cents + 11 END
        |      AS cents,
        |    (k % 11 = 0) AS bad
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status,
        |    CASE WHEN (k + m.maxk + 1) % 11 = 0 THEN -(cents + 1)
        |      ELSE cents + 1 END AS cents,
        |    ((k + m.maxk + 1) % 11 = 0) AS bad
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |allu AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |good AS (SELECT k, status, cents FROM allu WHERE NOT bad),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8
        |    AND NOT (b.k % 11 = 0))
        |  UNION ALL SELECT * FROM good),
        |acc AS (SELECT 'accepted' AS side, status AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM fin GROUP BY status),
        |qr AS (SELECT 'quarantined' AS side, 'nonneg_cents' AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM allu WHERE bad)
        |SELECT side, grp, n, sum_cents FROM acc
        |UNION ALL SELECT side, grp, n, sum_cents FROM qr
        |ORDER BY side, grp""".stripMargin,

    // Auto-maintenance replay: the action list and the post-maintenance
    // physical facts are pinned literals; the rollup is the churned
    // table's logical answer (k % 97 == 0 rows upserted at +5 cents) —
    // maintenance must not move a single number.
    "q_acid24" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |fin AS (SELECT k, status,
        |    CASE WHEN k % 97 = 0 THEN cents + 5 ELSE cents END AS cents
        |  FROM base)
        |SELECT 'compactDvs,compactSmall' AS actions,
        |  CAST(2 AS BIGINT) AS files_after,
        |  CAST(0 AS BIGINT) AS masks_after,
        |  status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY status ORDER BY status""".stripMargin,

    "q_acid5" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status, cents + 11 AS cents
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status, cents + 1 AS cents
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY status ORDER BY status""".stripMargin,

    "q_acid6" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status, cents + 11 AS cents
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status, cents + 1 AS cents
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT f.* FROM fin f, m
        |  WHERE NOT (f.k BETWEEN m.maxk // 3 AND m.maxk // 2))
        |SELECT 'deleted' AS stage, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents FROM del
        |UNION ALL
        |SELECT 'merged', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |FROM fin
        |ORDER BY stage""".stripMargin,

    "q_acid9" ->
      """WITH base AS (
        |  SELECT l_orderkey AS k,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
        |    CAST(round(l_extendedprice*100,0) AS BIGINT) AS cents,
        |    year(l_shipdate) AS y
        |  FROM lineitem),
        |lits AS (SELECT
        |    date_diff('day', DATE '1970-01-01', DATE '1996-03-01') AS d1,
        |    date_diff('day', DATE '1970-01-01', DATE '1997-06-30') AS d2),
        |f AS (SELECT y, min(ship_day) AS mn, max(ship_day) AS mx
        |  FROM base GROUP BY 1),
        |scan AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS files_total,
        |    CAST(count(*) AS BIGINT) AS files_scanned
        |  FROM f, lits WHERE f.mx >= lits.d1 AND f.mn <= lits.d2)
        |SELECT files_total, files_scanned,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(ship_day) AS BIGINT) AS min_day,
        |  CAST(max(ship_day) AS BIGINT) AS max_day
        |FROM base, lits, scan
        |WHERE ship_day BETWEEN lits.d1 AND lits.d2
        |GROUP BY files_total, files_scanned""".stripMargin,

    "q_acid8" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status, cents + 11 AS cents
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status, cents + 1 AS cents
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT f.* FROM fin f, m
        |  WHERE NOT (f.k BETWEEN m.maxk // 3 AND m.maxk // 2))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM del, m
        |WHERE k BETWEEN m.maxk // 4 AND m.maxk // 2
        |  AND cents BETWEEN 10000000 AND 30000000""".stripMargin,

    "q_acid7" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS gen, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_v,
        |  CAST(0 AS BIGINT) AS sum_extra, 'tag' AS quarantined
        |FROM base WHERE k % 3 = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents*3) AS BIGINT), CAST(0 AS BIGINT), 'tag'
        |FROM base WHERE k % 3 = 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(cents*2) AS BIGINT), CAST(sum(k % 2) AS BIGINT), 'tag'
        |FROM base WHERE k % 3 = 2
        |ORDER BY gen""".stripMargin,

    // CDF replay: updates (k%5=0, low band) are 'changed' (status always
    // flips to 'U'; statuses are O/F/P), inserts (> maxk) are 'added',
    // the delete range is 'removed' — the three key sets are disjoint by
    // construction, and COW-carried unchanged rows never appear.
    "q_acid10" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base)
        |SELECT 'changed' AS change_type, b.k,
        |  b.status AS old_status, b.cents AS old_cents,
        |  'U' AS new_status, b.cents + 11 AS new_cents
        |FROM base b, m WHERE b.k % 5 = 0 AND b.k <= m.maxk // 8
        |UNION ALL
        |SELECT 'added', b.k + m.maxk + 1,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |  'N', b.cents + 1
        |FROM base b, m WHERE b.k % 7 = 3 AND b.k <= m.maxk // 8
        |UNION ALL
        |SELECT 'removed', b.k, b.status, b.cents,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |FROM base b, m WHERE b.k BETWEEN m.maxk // 3 AND m.maxk // 2
        |ORDER BY k, change_type""".stripMargin,

    "q_acid11" ->
      """WITH base AS (
        |  SELECT year(l_shipdate) AS y,
        |    CAST(round(l_extendedprice*100,0) AS BIGINT) AS cents
        |  FROM lineitem),
        |per AS (SELECT y, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base GROUP BY y),
        |ranked AS (SELECT CAST(row_number() OVER (ORDER BY y) AS BIGINT)
        |    AS version, n, sum_cents FROM per),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    (SELECT CAST(count(*) AS BIGINT) FROM per) AS nv
        |  FROM base)
        |SELECT version, 'increment' AS source, n, sum_cents FROM ranked
        |UNION ALL SELECT nv, 'snapshot', n, s FROM tot
        |UNION ALL SELECT nv, 'increments_sum', n, s FROM tot
        |ORDER BY source, version""".stripMargin,

    // String-stats prune replay: a band is scanned iff its lexicographic
    // [min(name), max(name)] overlaps the predicate — zero-padded names
    // make that pure custkey arithmetic.
    "q_acid12" ->
      """WITH base AS (
        |  SELECT c_name AS name, c_custkey AS k,
        |    CAST(round(c_acctbal*100,0) AS BIGINT) AS cents
        |  FROM customer),
        |m AS (SELECT max(k) AS maxk FROM base),
        |lits AS (SELECT printf('Customer#%09d', maxk // 4) AS lo,
        |    printf('Customer#%09d', maxk // 2) AS hi FROM m),
        |f AS (SELECT (b.k * 8) // (m.maxk + 1) AS band,
        |    min(b.name) AS mn, max(b.name) AS mx
        |  FROM base b, m GROUP BY 1),
        |scan AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS files_total,
        |    CAST(count(*) AS BIGINT) AS files_scanned
        |  FROM f, lits WHERE f.mx >= lits.lo AND f.mn <= lits.hi)
        |SELECT files_total, files_scanned,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(name) AS min_name, max(name) AS max_name
        |FROM base, lits, scan
        |WHERE name BETWEEN lits.lo AND lits.hi
        |GROUP BY files_total, files_scanned""".stripMargin,

    // Upsert-by-name replay: name is bijective with custkey, so replaced
    // rows are exactly the update keys; inserted names land past maxk.
    // The file facts replay as literals because one band = one file and
    // every update name sits in band 0 (rewritten 1, kept 7).
    "q_acid13" ->
      """WITH base AS (
        |  SELECT c_name AS name, c_custkey AS k,
        |    CAST(round(c_acctbal*100,0) AS BIGINT) AS cents
        |  FROM customer),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT name, k, cents + 7 AS cents
        |  FROM base, m WHERE k % 9 = 0 AND k <= maxk // 8),
        |ins AS (SELECT printf('Customer#%09d', b.k + m.maxk + 1) AS name,
        |    b.k + m.maxk + 1 AS k, b.cents + 3 AS cents
        |  FROM base b, m WHERE b.k % 11 = 5 AND b.k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.name, b.k, b.cents FROM base b, m
        |  WHERE NOT (b.k % 9 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT CAST((f.k * 8) // (m.maxk + 1) AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(1 AS BIGINT) AS files_rewritten,
        |  CAST(7 AS BIGINT) AS files_kept
        |FROM fin f, m
        |GROUP BY 1 ORDER BY band""".stripMargin,

    // Three snapshots replayed from orders; the restored version's rollup
    // is v1's by construction.
    "q_acid20" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |v1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base WHERE k % 10 < 5),
        |v2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents * 1000) AS BIGINT) AS sum_cents
        |  FROM base WHERE k % 10 >= 7)
        |SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS action,
        |  n, sum_cents FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'overwrite', n, sum_cents FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'restore', n, sum_cents FROM v1
        |ORDER BY version""".stripMargin,

    // Both commit splits replayed from orders: viol = '' rows are the
    // accepted side, the rest group by their (declaration-ordered,
    // comma-joined) violation names — concat_ws skips NULLs identically
    // on both engines, and an all-pass row concatenates to ''.
    "q_acid19" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 11 = 0 THEN '?' ELSE o_orderstatus END
        |      AS status,
        |    CASE WHEN o_orderkey % 7 = 0
        |      THEN -CAST(round(o_totalprice*100,0) AS BIGINT)
        |      ELSE CAST(round(o_totalprice*100,0) AS BIGINT) END AS cents
        |  FROM orders),
        |marked AS (SELECT *, concat_ws(',',
        |    CASE WHEN cents >= 0 THEN NULL ELSE 'nonneg_cents' END,
        |    CASE WHEN status IN ('O','F','P') THEN NULL
        |      ELSE 'known_status' END) AS viol
        |  FROM base)
        |SELECT 'accepted' AS side, status AS grp,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM marked WHERE viol = '' GROUP BY 2
        |UNION ALL
        |SELECT 'quarantined', viol, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT)
        |FROM marked WHERE viol <> '' GROUP BY 2
        |ORDER BY side, grp""".stripMargin,

    // The q_acid15 'deleted' stage replay, per status — served through the
    // DSv2 reader + decode-time masks instead of AcidTable.readAsOf.
    "q_acid18" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status, cents + 11 AS cents
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status, cents + 1 AS cents
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT f.* FROM fin f, m
        |  WHERE NOT (f.k BETWEEN m.maxk // 3 AND m.maxk // 2))
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM del GROUP BY status ORDER BY status""".stripMargin,

    // The q_acid13 replay with the MOR strategy's file facts pinned the
    // other way around: one band masked, zero files rewritten.
    "q_acid17" ->
      """WITH base AS (
        |  SELECT c_name AS name, c_custkey AS k,
        |    CAST(round(c_acctbal*100,0) AS BIGINT) AS cents
        |  FROM customer),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT name, k, cents + 7 AS cents
        |  FROM base, m WHERE k % 9 = 0 AND k <= maxk // 8),
        |ins AS (SELECT printf('Customer#%09d', b.k + m.maxk + 1) AS name,
        |    b.k + m.maxk + 1 AS k, b.cents + 3 AS cents
        |  FROM base b, m WHERE b.k % 11 = 5 AND b.k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.name, b.k, b.cents FROM base b, m
        |  WHERE NOT (b.k % 9 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT CAST((f.k * 8) // (m.maxk + 1) AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(1 AS BIGINT) AS files_masked,
        |  CAST(0 AS BIGINT) AS files_rewritten
        |FROM fin f, m
        |GROUP BY 1 ORDER BY band""".stripMargin,

    // The packed slices union back to ALL of orders (k%10!=0 plus the
    // three k%30 residues of the rest), so the rollup replays from the
    // source table; the file facts replay as literals.
    "q_acid14" ->
      """SELECT o_orderstatus AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(3 AS BIGINT) AS files_packed,
        |  CAST(1 AS BIGINT) AS files_kept,
        |  CAST(2 AS BIGINT) AS files_after
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // The q_acid6 replay (same logical workload), with the MOR strategy's
    // defining fact pinned: zero files rewritten across merge AND delete.
    "q_acid15" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT max(k) AS maxk FROM base),
        |upd AS (SELECT k, 'U' AS status, cents + 11 AS cents
        |  FROM base, m WHERE k % 5 = 0 AND k <= m.maxk // 8),
        |ins AS (SELECT k + m.maxk + 1 AS k, 'N' AS status, cents + 1 AS cents
        |  FROM base, m WHERE k % 7 = 3 AND k <= m.maxk // 8),
        |fin AS (
        |  SELECT b.k, b.status, b.cents FROM base b, m
        |  WHERE NOT (b.k % 5 = 0 AND b.k <= m.maxk // 8)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT f.* FROM fin f, m
        |  WHERE NOT (f.k BETWEEN m.maxk // 3 AND m.maxk // 2))
        |SELECT 'deleted' AS stage, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS files_rewritten FROM del
        |UNION ALL
        |SELECT 'merged', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM fin
        |ORDER BY stage""".stripMargin,

    // Row-group skipping: the rollup replays from lineitem; the pinned
    // facts are the one admitted file and the scanned<total / scanned>0
    // block properties (exact block geometry is writer-dependent).
    "q_acid16" ->
      """WITH base AS (
        |  SELECT l_orderkey AS k,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
        |    CAST(round(l_extendedprice*100,0) AS BIGINT) AS cents
        |  FROM lineitem),
        |lits AS (SELECT
        |    date_diff('day', DATE '1970-01-01', DATE '1996-03-01') AS d1,
        |    date_diff('day', DATE '1970-01-01', DATE '1997-06-30') AS d2)
        |SELECT CAST(1 AS BIGINT) AS files_scanned,
        |  CAST(1 AS BIGINT) AS rg_scanned_nonzero,
        |  CAST(1 AS BIGINT) AS rg_pruned,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(ship_day) AS BIGINT) AS min_day,
        |  CAST(max(ship_day) AS BIGINT) AS max_day
        |FROM base, lits
        |WHERE ship_day BETWEEN lits.d1 AND lits.d2""".stripMargin,

    "q_acid2" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |prev AS (
        |  SELECT o_orderkey, o_orderstatus AS old_o_orderstatus,
        |    cents AS old_cents
        |  FROM base WHERE o_orderkey % 10 < 5),
        |next AS (
        |  SELECT o_orderkey, o_orderstatus AS new_o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN cents*2 ELSE cents END AS new_cents
        |  FROM base WHERE o_orderkey % 10 BETWEEN 2 AND 7),
        |j AS (
        |  SELECT coalesce(p.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    old_o_orderstatus, old_cents, new_o_orderstatus, new_cents,
        |    p.o_orderkey IS NOT NULL AS in_prev,
        |    n.o_orderkey IS NOT NULL AS in_next
        |  FROM prev p FULL OUTER JOIN next n ON p.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, old_o_orderstatus, old_cents,
        |  new_o_orderstatus, new_cents,
        |  CASE WHEN NOT in_prev THEN 'added'
        |       WHEN NOT in_next THEN 'removed'
        |       ELSE 'changed' END AS change_type
        |FROM j
        |WHERE NOT in_prev OR NOT in_next
        |   OR NOT (old_o_orderstatus IS NOT DISTINCT FROM new_o_orderstatus
        |       AND old_cents IS NOT DISTINCT FROM new_cents)
        |ORDER BY o_orderkey""".stripMargin,

    "q_scan1" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin,
    "q_scan2" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin,
    "q_scan3" ->
      """SELECT c_custkey,
        |  CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_id,
        |  upper(split_part(c_name, '#', 1)) AS name_prefix,
        |  CASE WHEN regexp_matches(regexp_replace(' $' || CAST(c_custkey AS VARCHAR) || ',50 ', '[$,%\s]', '', 'g'), '^-?[0-9]+(\.[0-9]+)?$')
        |       THEN CAST(regexp_replace(' $' || CAST(c_custkey AS VARCHAR) || ',50 ', '[$,%\s]', '', 'g') AS DOUBLE) END AS parsed_money
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sink1" ->
      """SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS n_rows
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_skew1" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dq5" -> {
      def arm(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_lhs_keys,
           |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_violating_keys
           |  FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS nd
           |        FROM $table GROUP BY $lhs)""".stripMargin
      s"""SELECT fd, n_lhs_keys, n_violating_keys,
         |  n_violating_keys = 0 AS holds FROM (
         |  ${arm("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey")}
         |  UNION ALL
         |  ${arm("o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority")}
         |  UNION ALL
         |  ${arm("l_orderkey->l_partkey", "lineitem", "l_orderkey", "l_partkey")}
         |  UNION ALL
         |  ${arm("l_orderkey,l_linenumber->l_quantity", "lineitem",
             "l_orderkey, l_linenumber", "l_quantity")})
         |ORDER BY fd""".stripMargin
    },
    // reconciliation audit: per-row xxhash64(key, cents) replayed via
    // hashLong2Cte (the multi-child running-seed fold), bucketed counts +
    // bit_xor checksums on both sides, full outer join
    "q_dq7" -> {
      val srcSql = "SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS v FROM orders"
      val dstSql = "SELECT o_orderkey AS k, " +
        "CASE WHEN o_orderkey % 997 = 0 " +
        "THEN CAST(round(o_totalprice*100.0, 0) AS BIGINT) + 1 " +
        "ELSE CAST(round(o_totalprice*100.0, 0) AS BIGINT) END AS v FROM orders"
      val hs = XxhashSql.hashLong2Cte(srcSql, "k", "v", "h")
      val hd = XxhashSql.hashLong2Cte(dstSql, "k", "v", "h")
      s"""WITH srch AS MATERIALIZED (SELECT k, h FROM $hs),
         |dsth AS MATERIALIZED (SELECT k, h FROM $hd),
         |sa AS (SELECT ((k % 64) + 64) % 64 AS bucket,
         |         COUNT(*) AS n_src, bit_xor(h) AS xor_src
         |       FROM srch GROUP BY 1),
         |da AS (SELECT ((k % 64) + 64) % 64 AS bucket,
         |         COUNT(*) AS n_dst, bit_xor(h) AS xor_dst
         |       FROM dsth GROUP BY 1)
         |SELECT COALESCE(sa.bucket, da.bucket) AS bucket,
         |  CAST(sa.n_src AS BIGINT) AS n_src,
         |  CAST(sa.xor_src AS BIGINT) AS xor_src,
         |  CAST(da.n_dst AS BIGINT) AS n_dst,
         |  CAST(da.xor_dst AS BIGINT) AS xor_dst,
         |  COALESCE(sa.n_src, 0) = COALESCE(da.n_dst, 0) AS counts_match,
         |  COALESCE(sa.n_src, 0) = COALESCE(da.n_dst, 0)
         |    AND COALESCE(sa.xor_src, 0) = COALESCE(da.xor_dst, 0)
         |    AS checksum_match
         |FROM sa FULL OUTER JOIN da ON sa.bucket = da.bucket
         |ORDER BY bucket""".stripMargin
    },
    "q_dq3" ->
      """SELECT fk, n_fact_rows, n_distinct_keys, n_orphan_rows, n_orphan_keys FROM (
        |  SELECT 'l_orderkey->orders' AS fk, COUNT(*) AS n_fact_rows,
        |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct_keys,
        |    CAST(COUNT(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_orphan_rows,
        |    CAST(COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN l_orderkey END) AS BIGINT) AS n_orphan_keys
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'l_suppkey->supplier', COUNT(*),
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
        |    CAST(COUNT(*) FILTER (s_suppkey IS NULL) AS BIGINT),
        |    CAST(COUNT(DISTINCT CASE WHEN s_suppkey IS NULL THEN l_suppkey END) AS BIGINT)
        |  FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
        |    ON l_suppkey = s_suppkey)
        |ORDER BY fk""".stripMargin,
    "q_dq2" ->
      """SELECT col_name, n_rows, n_nulls, n_distinct FROM (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*),
        |    CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*),
        |    CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*),
        |    CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*),
        |    CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
        |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders)
        |ORDER BY col_name""".stripMargin,
    "q_skew2" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS total_rows, COUNT(*) AS n_keys FROM c)
        |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(total_rows AS BIGINT) AS total_rows, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share,
        |  CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE) AS skew_ratio
        |FROM c CROSS JOIN t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,
    "q_sink2" ->
      """SELECT c_custkey,
        |  CAST(floor((row_number() OVER (ORDER BY c_custkey) - 1) / 100.0) + 1 AS BIGINT) AS batch_num
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_scan4" ->
      """SELECT COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    "q_layout1" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${graft.operators.Layout.zValueSql(Seq("l_partkey", "l_suppkey"), 16)} AS z
         |FROM lineitem
         |ORDER BY z, l_orderkey, l_linenumber, l_partkey""".stripMargin,
    // Benford: identical fixed 6dp expectation literals, identical
    // expected/chi trees over exact counts.
    "q_dq6" -> {
      val plist = BenfordP.map(p => s"CAST($p AS DOUBLE)")
        .mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS cents
         |  FROM orders),
         |dg AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM c WHERE cents > 0),
         |o AS (SELECT digit, COUNT(*) AS n_obs FROM dg GROUP BY 1),
         |t AS (SELECT COUNT(*) AS n FROM dg),
         |e AS (
         |  SELECT digit, n_obs,
         |    CAST(n AS DOUBLE) * ($plist)[CAST(digit AS INT)] AS expected
         |  FROM o, t)
         |SELECT digit, n_obs, expected,
         |  (CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
         |    / expected AS chi2_term
         |FROM e ORDER BY digit""".stripMargin
    },
    "q_dq1" ->
      """WITH m AS (SELECT
        |  CAST(COUNT(*) AS DOUBLE) AS n_rows,
        |  CAST(COUNT(*) - COUNT(o_orderdate) AS DOUBLE) AS null_orderdate,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS dup_orderkey,
        |  CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS DOUBLE) AS nonpositive_totalprice,
        |  CAST(COUNT(*) FILTER (WHERE NOT o_orderstatus IN ('O','F','P')) AS DOUBLE) AS bad_status_domain,
        |  CAST(COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01') AS DOUBLE) AS stale_orderdate
        |  FROM orders)
        |SELECT check_name, value FROM (
        |  SELECT 'n_rows' AS check_name, n_rows AS value FROM m
        |  UNION ALL SELECT 'null_orderdate', null_orderdate FROM m
        |  UNION ALL SELECT 'dup_orderkey', dup_orderkey FROM m
        |  UNION ALL SELECT 'nonpositive_totalprice', nonpositive_totalprice FROM m
        |  UNION ALL SELECT 'bad_status_domain', bad_status_domain FROM m
        |  UNION ALL SELECT 'stale_orderdate', stale_orderdate FROM m)
        |ORDER BY check_name""".stripMargin,
    "q_sink3" ->
      """SELECT o_orderkey,
        |  CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 1000.0) + 1 AS BIGINT) AS batch_num
        |FROM orders ORDER BY o_orderkey""".stripMargin,
  )
}
