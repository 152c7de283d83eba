package graft

import graft.pipeline.Ingest
import graft.schema.Tables
import graft.state.WatermarkStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end pipeline tests over fixture CSVs exercising the FIXTURES.md
  * conventions: bool spellings, duplicate ids across batches, watermark
  * boundary rows, multi-partition spans, empty deltas, missing files. */
class IngestSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, content: String): Unit =
    Files.writeString(Paths.get(dir, name), content)

  private val migCols = Tables.registry("retail_order_migrations").columns

  private def migCsv(rows: Seq[Map[String, String]]): String = {
    val header = migCols.mkString(";")
    val lines = rows.map(r => migCols.map(c => r.getOrElse(c, "")).mkString(";"))
    (header +: lines).mkString("\n")
  }

  private def migRow(id: String, createdAt: String, prePaid: String) = Map(
    "id" -> id, "retail_subscription_id" -> s"s$id", "customer_id" -> "c1",
    "status" -> "ok", "created_at" -> createdAt, "updated_at" -> createdAt,
    "pre_paid" -> prePaid, "main" -> "f")

  test("initial load: CSV → bronze → partitioned parquet; missing files skip") {
    val root = tmpDir("ingest")
    val csvDir = s"$root/load"; val outDir = s"$root/raw"
    Files.createDirectories(Paths.get(csvDir))
    writeCsv(csvDir, "retail_order_migrations.csv", migCsv(Seq(
      migRow("1", "2024-01-05 10:00:00", "True"),
      migRow("2", "2024-02-05 10:00:00", "f"),
      migRow("3", "2024-02-06 10:00:00", "weird"))))
    val done = Ingest.initialLoad(spark, csvDir, outDir)
    assert(done == Seq("retail_order_migrations")) // others missing → skipped
    val out = spark.read.parquet(s"$outDir/retail_order_migrations")
    assert(out.count() == 3)
    // bronze: all strings, canon bools, micro timestamps, partition cols
    val r = out.filter(col("id") === "1").collect()(0)
    assert(r.getAs[String]("pre_paid") == "true")
    assert(r.getAs[String]("created_at") == "2024-01-05 10:00:00.000000")
    assert(r.getAs[Int]("year") == 2024 && r.getAs[Int]("month") == 1)
    assert(out.filter(col("id") === "3").collect()(0)
      .getAs[String]("pre_paid") == "weird") // pass-through preserved
  }

  test("incremental run: watermark filter, >= boundary, new-wins, commit-after-all") {
    val root = tmpDir("ingest")
    val outDir = s"$root/raw"
    val wmPath = s"$root/wm.json"
    val clock = () => java.time.LocalDateTime.of(2024, 2, 2, 4, 0, 0)
    val store = new WatermarkStore(Paths.get(wmPath), clock)
    import spark.implicits._
    def src(rows: (String, String, String)*) =
      rows.map { case (id, ts, flag) =>
        (id, s"s$id", "c1", "ok", ts, ts, flag, "f")
      }.toDF("id", "retail_subscription_id", "customer_id", "status",
        "created_at", "updated_at", "pre_paid", "main")

    // batch 1: default watermark = 2024-02-01 00:00:00 (yesterday midnight)
    // row exactly ON the boundary must be ingested (>= semantics)
    val b1 = src(("10", "2024-02-01 00:00:00", "t"),
      ("11", "2024-02-01 12:00:00", "f"),
      ("9", "2024-01-31 23:59:59", "t")) // below watermark → excluded
    Ingest.incrementalRun(spark, store,
      Map("retail_order_migrations" -> b1), "2024-02-02 04:00:00", outDir,
      tables = Seq(Tables.registry("retail_order_migrations")))
    val after1 = spark.read.parquet(s"$outDir/retail_order_migrations")
    assert(after1.select("id").collect().map(_.getString(0)).toSet ==
      Set("10", "11"))
    // watermark committed to probe time
    assert(new WatermarkStore(Paths.get(wmPath), clock)
      .get("retail_order_migrations") == "2024-02-02 04:00:00")

    // batch 2: update id=10 (re-read boundary overlap) + new id=12
    val b2 = src(("10", "2024-02-02 06:00:00", "f"),
      ("12", "2024-02-02 07:00:00", "t"))
    Ingest.incrementalRun(spark, store,
      Map("retail_order_migrations" -> b2), "2024-02-03 04:00:00", outDir,
      tables = Seq(Tables.registry("retail_order_migrations")))
    val after2 = spark.read.parquet(s"$outDir/retail_order_migrations")
    assert(after2.count() == 3)
    assert(after2.filter(col("id") === "10").collect()(0)
      .getAs[String]("pre_paid") == "false") // new beat old
  }

  test("snapshot sink parity: the daily watermark pipeline through " +
      "SnapshotSink lands content identical to OverwriteSink per run, " +
      "and earns readable history across two incremental runs (time " +
      "travel to the pre-update state the overwrite sink destroys)") {
    val root = tmpDir("snapingest")
    val clock = () => java.time.LocalDateTime.of(2024, 2, 2, 4, 0, 0)
    import spark.implicits._
    def src(rows: (String, String, String)*) =
      rows.map { case (id, ts, flag) =>
        (id, s"s$id", "c1", "ok", ts, ts, flag, "f")
      }.toDF("id", "retail_subscription_id", "customer_id", "status",
        "created_at", "updated_at", "pre_paid", "main")
    val spec = Tables.registry("retail_order_migrations")
    val b1 = src(("10", "2024-02-01 00:00:00", "t"),
      ("11", "2024-02-01 12:00:00", "f"))
    val b2 = src(("10", "2024-02-02 06:00:00", "f"),
      ("12", "2024-02-02 07:00:00", "t"))
    def run(batch: org.apache.spark.sql.DataFrame, probe: String): Unit =
      Seq(Ingest.OverwriteSink -> "ow", Ingest.SnapshotSink -> "sn")
        .foreach { case (sink, tag) =>
          Ingest.incrementalRun(spark,
            new WatermarkStore(Paths.get(s"$root/wm_$tag.json"), clock),
            Map(spec.name -> batch), probe, s"$root/$tag",
            tables = Seq(spec), sink = sink)
        }
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] = {
      val cols = (spec.columns ++ Seq("company", "year", "month")).sorted
      df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.map(String.valueOf)).toSet
    }
    val snapTbl = s"$root/sn/${spec.name}"
    run(b1, "2024-02-02 04:00:00")
    val after1 = rows(spark.read.parquet(s"$root/ow/${spec.name}"))
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl)) == after1,
      "run-1 content must be identical across sinks")
    run(b2, "2024-02-03 04:00:00")
    val after2 = rows(spark.read.parquet(s"$root/ow/${spec.name}"))
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl)) == after2,
      "run-2 content must be identical across sinks")
    assert(after1 != after2)
    // history: run 1's state is still readable AFTER run 2 committed —
    // the overwrite sink destroyed it, the snapshot sink kept it
    assert(graft.ops.SnapshotTable.versions(spark, snapTbl) ==
      Seq(1L, 2L))
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl, Some(1L)))
      == after1,
      "time travel must read run 1's exact content after run 2")
  }

  test("initial load through the snapshot sink: OnDemand-seeded " +
      "tables carry history from VERSION 1 — seed content identical " +
      "across sinks, the first incremental run lands as version 2, " +
      "and time travel reaches the seed") {
    val root = tmpDir("snapseed")
    val csvDir = s"$root/load"
    Files.createDirectories(Paths.get(csvDir))
    writeCsv(csvDir, "retail_order_migrations.csv", migCsv(Seq(
      migRow("1", "2024-01-05 10:00:00", "True"),
      migRow("2", "2024-02-01 10:00:00", "f"))))
    val spec = Tables.registry("retail_order_migrations")
    assert(Ingest.initialLoad(spark, csvDir, s"$root/ow") ==
      Seq(spec.name))
    assert(Ingest.initialLoad(spark, csvDir, s"$root/sn",
      sink = Ingest.SnapshotSink) == Seq(spec.name))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] = {
      val cols = (spec.columns ++ Seq("company", "year", "month")).sorted
      df.select(cols.map(c => col(c).cast("string")): _*).collect()
        .map(_.toSeq.map(String.valueOf)).toSet
    }
    val snapTbl = s"$root/sn/${spec.name}"
    val seeded = rows(spark.read.parquet(s"$root/ow/${spec.name}"))
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl)) == seeded,
      "snapshot-seeded content must equal the overwrite seed")
    assert(graft.ops.SnapshotTable.versions(spark, snapTbl) == Seq(1L),
      "the seed must be version 1 of the table's history")
    // an incremental run on top lands as version 2; time travel
    // still reads the OnDemand seed exactly
    val clock = () => java.time.LocalDateTime.of(2024, 2, 2, 4, 0, 0)
    import spark.implicits._
    val b = Seq(("2", "s2", "c1", "ok", "2024-02-02 06:00:00",
      "2024-02-02 06:00:00", "t", "f"))
      .toDF("id", "retail_subscription_id", "customer_id", "status",
        "created_at", "updated_at", "pre_paid", "main")
    Ingest.incrementalRun(spark,
      new WatermarkStore(Paths.get(s"$root/wm.json"), clock),
      Map(spec.name -> b), "2024-02-03 04:00:00", s"$root/sn",
      tables = Seq(spec), sink = Ingest.SnapshotSink)
    assert(graft.ops.SnapshotTable.versions(spark, snapTbl) ==
      Seq(1L, 2L))
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl, Some(1L)))
      == seeded,
      "time travel must read the OnDemand seed after the first " +
        "incremental run")
    assert(rows(graft.ops.SnapshotTable.read(spark, snapTbl)) != seeded)
  }

  test("empty delta short-circuits the sink (gluejob.py:175-179)") {
    val root = tmpDir("ingest")
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("id", "updated_at")
      .withColumn("created_at", col("updated_at"))
    val wrote = Ingest.ingestTable(spark,
      Tables.registry("retail_orders"), empty,
      "2024-01-01 00:00:00", s"$root/raw")
    assert(!wrote)
    assert(!new java.io.File(s"$root/raw/retail_orders").exists())
  }

  private val spec = Tables.registry("retail_order_migrations")

  private def row(id: String, createdAt: String, updatedAt: String) =
    Row.fromSeq(spec.columns.map {
      case "id" => id
      case "created_at" => createdAt
      case "updated_at" => updatedAt
      case _ => "x"
    })

  private def frame(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      spec.schema)

  // partition 2024-03 holds ids 1 and 2; the day's delta touches only
  // 2024-01, and the late row updates id 1 in 2024-03
  private val seed = Seq(
    row("1", "2024-03-05 10:00:00", "2024-03-05 10:00:00"),
    row("2", "2024-03-06 10:00:00", "2024-03-06 10:00:00"))
  private val day = Seq(
    row("10", "2024-01-05 10:00:00", "2024-04-02 09:00:00"),
    row("11", "2024-01-06 10:00:00", "2024-04-02 09:00:00"))
  private val late = row("1", "2024-03-05 10:00:00", "2024-04-02 11:00:00")

  test("one extraction: the source is evaluated once per table per run, " +
      "so a row arriving mid-run can neither drop seeded rows (overwrite " +
      "sink) nor commit a key twice (snapshot sink)") {
    val root = tmpDir("oneextract")
    Seq(Ingest.OverwriteSink -> "ow", Ingest.SnapshotSink -> "sn").foreach {
      case (sink, tag) =>
        val out = s"$root/$tag"
        assert(Ingest.ingestTable(spark, spec, frame(seed),
          "2024-01-01 00:00:00", out, sink))
        val src = LateRowSource.frame(spark, spec.schema, tag, day, late)
        assert(Ingest.ingestTable(spark, spec, src, "2024-04-01 00:00:00",
          out, sink))
        assert(LateRowSource.evaluations(tag) == 1,
          s"$tag: source evaluated ${LateRowSource.evaluations(tag)} times")
        val table = s"$out/${spec.name}"
        val ids = (sink match {
          case Ingest.OverwriteSink => spark.read.parquet(table)
          case Ingest.SnapshotSink =>
            graft.ops.SnapshotTable.read(spark, table)
        }).select("id").collect().map(_.getString(0)).toSeq
        assert(Set("1", "2", "10", "11").subsetOf(ids.toSet),
          s"$tag: a row was lost: ${ids.sorted}")
        assert(ids.size == ids.distinct.size,
          s"$tag: a key was committed twice: ${ids.sorted}")
    }
  }

  test("one job before each sink's write per table, exactly one for an " +
      "empty delta") {
    import graft.ops.{Normalize, PartitionKeys, SnapshotTable, Upsert}
    val partCols = Seq("company", "year", "month")
    Seq(Ingest.OverwriteSink, Ingest.SnapshotSink).foreach { sink =>
      val root = tmpDir("ingestjobs")
      Seq("alone", "ingest").foreach(t => assert(Ingest.ingestTable(spark,
        spec, frame(seed), "2024-01-01 00:00:00", s"$root/$t", sink)))
      val src = frame(day :+ late)
      // the sink alone over an extracted delta and its counts
      val cut = PartitionKeys.withCompanyYearMonth(
        Normalize.toBronze(src, spec), spec.dateCol).localCheckpoint()
      val counts = PartitionKeys.touchedCounts(cut, partCols)
      val alone = s"$root/alone/${spec.name}"
      val sinkJobs = jobsStartedDuring(sink match {
        case Ingest.OverwriteSink =>
          Upsert.upsertPartitioned(spark, cut, alone, spec.idCol,
            spec.updatedCol, partCols, touchedCounts = Some(counts))
        case Ingest.SnapshotSink =>
          SnapshotTable.merge(spark, alone, cut, spec.idCol, spec.updatedCol,
            partCols, touchedCounts = Some(counts))
      }).size
      val ingestJobs = jobsStartedDuring(assert(Ingest.ingestTable(spark,
        spec, src, "2024-04-01 00:00:00", s"$root/ingest", sink))).size
      assert(ingestJobs == sinkJobs + 1,
        s"$sink: ingestTable ran $ingestJobs jobs, its sink $sinkJobs")
      val emptyJobs = jobsStartedDuring(assert(!Ingest.ingestTable(spark,
        spec, src, "2099-01-01 00:00:00", s"$root/ingest", sink))).size
      assert(emptyJobs == 1, s"$sink: an empty delta ran $emptyJobs jobs")
    }
  }

  test("flow dispatch (gluejob.py:141-155, 306-327)") {
    assert(Ingest.flowOf("OnDemand") == Ingest.OnDemand)
    assert(Ingest.flowOf("Scheduled") == Ingest.Scheduled)
    assert(Ingest.flowOf("whatever") == Ingest.NoOp)
    assert(Ingest.selectTables("allTables").size == 8)
    assert(Ingest.selectTables("retail_plans").map(_.name) ==
      Seq("retail_plans"))
    assert(Ingest.selectTables("checkout_orders").isEmpty) // disabled
    assert(Ingest.selectTables("nope").isEmpty)
  }
}

/** A source frame that counts its evaluations per key and, from its
  * third on, returns one more row: a row that arrived between reads. */
object LateRowSource {
  private val evals = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()

  def evaluations(key: String): Int = evals.get(key).get

  def frame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, key: String,
      rows: Seq[Row], late: Row): org.apache.spark.sql.DataFrame = {
    evals.put(key, new java.util.concurrent.atomic.AtomicInteger)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(key), 1)
      .flatMap(k => if (evals.get(k).incrementAndGet() >= 3) rows :+ late
        else rows), schema)
  }
}

/** Property-style invariants (upsert idempotence / precedence). */
class UpsertPropertySpec extends SparkSpec {
  import graft.ops.Upsert
  import spark.implicits._

  test("merge idempotence: merge(b, merge(b, old)) == merge(b, old)") {
    val r = new scala.util.Random(7)
    val ids = (1 to 50).map(_.toString)
    def randBatch() = ids.filter(_ => r.nextBoolean()).map(id =>
      (id, r.nextInt(1000).toString,
        f"2024-01-${r.nextInt(27) + 1}%02d 00:00:00"))
      .toDF("id", "payload", "updated_at")
    for (_ <- 1 to 3) {
      val b = randBatch(); val old = randBatch()
      val once = Upsert.merge(b, old, "id", "updated_at")
      val twice = Upsert.merge(b, once, "id", "updated_at")
      assert(twice.orderBy("id").collect().toSeq ==
        once.orderBy("id").collect().toSeq)
    }
  }
}

/** The disabled SQL Server table's CSV dialect: comma separator,
  * ID_Order key, DT_CreatedAt partition column (gluejob.py:174,191,
  * 227,235) — ingestable when explicitly requested. */
class CheckoutOrdersSpec extends SparkSpec {
  test("checkout_orders: comma CSV, ID_Order dedup key, DT_CreatedAt partition") {
    val root = tmpDir("checkout")
    val spec = graft.schema.Tables.registry("checkout_orders")
    assert(spec.csvSep == "," && !spec.enabled)
    val header = spec.columns.mkString(",")
    val row = spec.columns.map {
      case "ID_Order" => "42"
      case "DT_CreatedAt" | "DT_UpdatedAt" => "2024-06-15 08:30:00"
      case "use_anti_fraude" => "t"
      case _ => "v"
    }.mkString(",")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/load"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/load/checkout_orders.csv"),
      header + "\n" + row)
    val done = graft.pipeline.Ingest.initialLoad(spark, s"$root/load",
      s"$root/raw", tables = Seq(spec))
    assert(done == Seq("checkout_orders"))
    val out = spark.read.parquet(s"$root/raw/checkout_orders")
    val r = out.collect()(0)
    assert(r.getAs[String]("ID_Order") == "42")
    assert(r.getAs[String]("DT_CreatedAt") == "2024-06-15 08:30:00.000000")
    assert(r.getAs[Int]("year") == 2024 && r.getAs[Int]("month") == 6)
  }
}
