package perfbench

import graft.api.ColumnSelection
import graft.core.ManifestTable
import graft.core.ManifestTable.LongRange
import graft.operators.Exporter
import graft.sources.{CsvIngest, GraftManifestScan}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `table_lifecycle`: one client cycling the manifest table through its
  * whole life. Each cycle imports a multi-part CSV directory, merges,
  * deletes, records a deferred delete, optimizes, vacuums and appends one
  * streaming micro-batch to a second table; range, SQL, as-of and export
  * reads run before and after the deferred delete.
  *
  * A shadow key model (line key → quantity) gives the expected answer of
  * every write and read.
  */
final class Lifecycle(spark: SparkSession, root: File, seed: Long, scale: Scale)
    extends Workload {
  val name = "table_lifecycle"
  import Lifecycle._

  private val baseOrders = scale.lifecycleOrders
  private val partWidth = math.max(1L, baseOrders / 16)
  private val table = new File(root, "table").getPath
  private val streamTable = new File(root, "stream").getPath
  private val streamSrc = new File(root, "stream_src").getPath
  private val streamCkpt = new File(root, "stream_ckpt").getPath
  private val orderBlock = scale.cycleOrders + MergeInsertOrders

  /** Live line keys (orderkey * 8 + linenumber) → quantity. */
  private val shadow = mutable.LongMap.empty[Int]
  private var streamRows = 0L
  private var batch = 0L
  private var cycle = 0
  private var csvBytes = 0L

  private def partOf(orderkey: Long): String =
    if (orderkey <= baseOrders) s"r${(orderkey - 1) / partWidth}"
    else s"i${(orderkey - baseOrders - 1) / orderBlock}"

  def setup(): Unit = {
    val base = Gen.lineitemFrame(spark, 1L, baseOrders, 2000, 100)
      .withColumn("p", expr(s"concat('r', CAST((l_orderkey - 1) div $partWidth AS STRING))"))
    ManifestTable.commit(spark, table, base, "p", batchId = batch, statsCol = Some("l_orderkey"))
    for (ok <- 1L to baseOrders; ln <- 1 to Gen.LinesPerOrder)
      shadow(key(ok, ln)) = Gen.baseQuantity(ok, ln)
    new File(streamSrc).mkdirs()
  }

  // ---- one cycle -----------------------------------------------------------

  def round(ops: Ops, tag: String): Unit = {
    val c = cycle
    cycle += 1
    val r = new SplittableRandom(seed * 1000003L + c)
    val t = ops.tracer
    val firstOrder = baseOrders + 1 + c.toLong * orderBlock
    val importPart = partOf(firstOrder)

    // import: a generated multi-part CSV directory, read all-string, typed, committed
    val csvDir = new File(root, s"csv_$c")
    val imported = writeCsvParts(csvDir, firstOrder, scale.cycleOrders, r)
    ops.run("import", write = true, tag) {
      val raw = t.call("csv.read_all_string", "bytes" -> imported.bytes.toDouble)(
        CsvIngest.readAllString(spark, csvDir.getPath))
      val typed = raw.select(LineitemSchema.fields.map(f => col(f.name).cast(f.dataType)): _*)
        .withColumn("p", lit(importPart))
      batch += 1
      t.call("manifest.commit")(ManifestTable.commit(
        spark, table, typed, "p", batch, statsCol = Some("l_orderkey")))
    } { v =>
      Check.equal("import version", ManifestTable.currentVersion(spark, table), v)
      imported.rows.foreach { case (k, q) => shadow(k) = q }
      csvBytes += imported.bytes
      Moved(rowsIn = imported.rows.size)
    }
    Workload.deleteTree(csvDir)
    val asOf = ManifestTable.currentVersion(spark, table)
    val asOfKeys = shadow.clone()

    // merge on (l_orderkey, l_linenumber): updates in a key window plus new orders
    val updates = pickLiveKeys(r, MergeUpdates)
    val newOrders = (0 until MergeInsertOrders).map(firstOrder + scale.cycleOrders + _)
    val inserts = for (ok <- newOrders; ln <- 1 to Gen.LinesPerOrder) yield key(ok, ln)
    val mergeRows = (updates ++ inserts).map(k => k -> (1 + r.nextInt(50)))
    ops.run("merge", write = true, tag) {
      batch += 1
      t.call("manifest.merge")(ManifestTable.merge(spark, table, lineFrame(mergeRows),
        Seq("l_orderkey", "l_linenumber"), batch, ManifestTable.NoHook))
    } { stats =>
      val s = stats.getOrElse(throw new CheckFailed("merge was fenced off"))
      Check.equal("merge rows updated", s.rowsUpdated, updates.size.toLong)
      Check.equal("merge rows inserted", s.rowsInserted, inserts.size.toLong)
      mergeRows.foreach { case (k, q) => shadow(k) = q }
      scanRatio(t, "manifest.merge", s.filesScanned, s.filesTotal)
      Moved(rowsIn = mergeRows.size)
    }

    // copy-on-write delete of whole orders
    val deleted = pickLiveOrders(r, DeleteOrders)
    ops.run("delete", write = true, tag) {
      t.call("manifest.delete")(ManifestTable.deleteRows(spark, table, orderFrame(deleted), "l_orderkey"))
    } { stats =>
      val s = stats.getOrElse(throw new CheckFailed("delete matched no row"))
      val gone = linesOf(deleted)
      Check.equal("delete rows deleted", s.rowsDeleted, gone.size.toLong)
      gone.foreach(shadow.remove)
      scanRatio(t, "manifest.delete", s.filesScanned, s.filesTotal)
      Moved()
    }

    reads(ops, tag, r, asOf, asOfKeys, Set.empty)

    // merge-on-read delete: masked now, purged by the optimize below
    val masked = pickLiveOrders(r, DeferredOrders)
    ops.run("deferred_delete", write = true, tag) {
      t.call("manifest.deferred_delete")(
        ManifestTable.deleteRowsDeferred(spark, table, orderFrame(masked), "l_orderkey"))
    } { s =>
      Check.equal("deferred keys recorded", s.keysRecorded, masked.size.toLong)
      Check.equal("deferred keys pending", s.keysPending, masked.size.toLong)
      linesOf(masked).foreach(shadow.remove)
      Moved()
    }

    reads(ops, tag, r, asOf, asOfKeys, masked.toSet)

    val before = liveFiles()
    ops.run("optimize", write = true, tag) {
      t.call("manifest.optimize")(ManifestTable.optimize(spark, table))
    } { _ =>
      Check(ManifestTable.pendingDeferredDeletes(spark, table).values.forall(_ == 0),
        "optimize left deferred deletes pending")
      if (t.enabled) t.note("manifest.optimize", "bytes_rewritten",
        liveFiles().diff(before).map(f => new File(table, f).length().toDouble).sum)
      Moved()
    }

    ops.run("vacuum", write = true, tag) {
      t.call("manifest.vacuum")(ManifestTable.vacuum(spark, table, keepVersions = 1))
    } { n =>
      Check(n >= 0, s"vacuum returned $n")
      val live = ManifestTable.readVersion(spark, table, ManifestTable.currentVersion(spark, table)).count()
      Check.equal("rows after vacuum", live, shadow.size.toLong)
      Moved()
    }

    // one availableNow micro-batch through the streaming sink
    val nStream = StreamRows
    spark.range(0, nStream).selectExpr(s"id + ${c.toLong * nStream} AS k",
      s"CAST(${r.nextInt(1000)} + id AS DOUBLE) AS v", s"'s${c % 4}' AS p")
      .coalesce(1).write.mode("append").parquet(streamSrc)
    ops.run("stream_append", write = true, tag) {
      t.call("stream.append") {
        val q = spark.readStream.schema(StreamSchema).parquet(streamSrc)
          .writeStream.format("graft-manifest")
          .option("path", streamTable).option("partitionCol", "p").option("statsColumns", "k")
          .option("checkpointLocation", streamCkpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.toSeq
      }
    } { progress =>
      val in = progress.map(_.numInputRows).sum
      Check.equal("stream rows in", in, nStream)
      streamRows += nStream
      val stored = spark.read.format("graft-manifest").load(streamTable).count()
      Check.equal("stream table rows", stored, streamRows)
      t.note("stream.append", "add_batch_ms",
        progress.map(_.durationMs.asScala.get("addBatch").map(_.toDouble).getOrElse(0.0)).sum)
      Moved(rowsIn = nStream)
    }
    // deferred deletes checkpoint their key lists; release those blocks
    graft.core.Engine.releaseCachedState(spark)
  }

  /** The four reads: key range, SQL via the format, as-of, and an
    * over-cap export. Expected answers come from the shadow model; an
    * as-of read also hides the pending deferred-delete mask.
    */
  private def reads(ops: Ops, tag: String, r: SplittableRandom, asOf: Long,
      asOfKeys: mutable.LongMap[Int], masked: Set[Long]): Unit = {
    val t = ops.tracer
    val (lo, hi) = window(r)
    ops.run("read_range", write = false, tag) {
      val preds = Seq(LongRange("l_orderkey", lo, hi))
      t.call("manifest.read_pruned")(ManifestTable.readPrunedMulti(spark, table, preds)
        .filter(col("l_orderkey").between(lo, hi))
        .agg(count(lit(1)), sum("l_quantity")).head())
    } { row => checkAgg("read_range", row, lo, hi) }

    val (lo2, hi2) = window(r)
    ops.run("read_sql", write = false, tag) {
      t.call("dsv2.read") {
        val df = spark.read.format("graft-manifest").load(table)
          .filter(col("l_orderkey").between(lo2, hi2))
          .agg(count(lit(1)), sum("l_quantity"))
        (df.head(), df)
      }
    } { case (row, df) =>
      if (t.enabled) {
        val chosen = graftScans(df.queryExecution.executedPlan).map(_.chosenFiles.size).sum
        t.note("dsv2.read", "files_read_ratio", chosen.toDouble / math.max(1, liveFiles().size))
      }
      checkAgg("read_sql", row, lo2, hi2)
    }

    ops.run("read_asof", write = false, tag) {
      t.call("manifest.read_asof")(ManifestTable.readVersion(spark, table, asOf).count())
    } { n =>
      Check.equal(s"read_asof v$asOf rows", n, asOfKeys.keysIterator.count(k => !masked(k / 8)).toLong)
      Moved(rowsOut = n)
    }

    exportSlice(ops, tag, new File(root, s"export_${cycle}_${masked.size}"))
  }

  private def exportSlice(ops: Ops, tag: String, dir: File): Unit = {
    val t = ops.tracer
    val sliceHi = sliceBound()
    val expected = shadow.keysIterator.count(_ / 8 <= sliceHi).toLong
    ops.run("export", write = false, tag) {
      val sel = ColumnSelection("lineitem_slice", Seq("l_orderkey", "l_linenumber", "l_quantity"), Nil, None)
      val slice = spark.read.format("graft-manifest").load(table).filter(col("l_orderkey") <= sliceHi)
      t.call("exporter.spill")(Exporter.export(spark, sel, _ => slice,
        inlineRowCap = scale.inlineCap, spillDir = Some(dir.getPath)))
    } { res =>
      Check.equal("export count", res.count, expected)
      Check(res.path.contains(dir.getPath), "export did not take the spill route")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      Check(parts.nonEmpty, "export wrote no part file")
      Check(parts.forall(bomFirst), "export part without a UTF-8 BOM")
      t.note("exporter.spill", "bytes", parts.map(_.length().toDouble).sum)
      Moved(rowsOut = res.count)
    }
    Workload.deleteTree(dir)
  }

  private def checkAgg(what: String, row: Row, lo: Long, hi: Long): Moved = {
    val live = shadow.iterator.filter { case (k, _) => k / 8 >= lo && k / 8 <= hi }.toSeq
    Check.equal(s"$what rows", row.getLong(0), live.size.toLong)
    val q = if (row.isNullAt(1)) 0L else row.getDouble(1).toLong
    Check.equal(s"$what quantity", q, live.map(_._2.toLong).sum)
    Moved(rowsOut = live.size)
  }

  // ---- inputs ---------------------------------------------------------------

  /** `orders` new orders as a two-part CSV directory with seeded quantities. */
  private def writeCsvParts(dir: File, firstOrder: Long, orders: Int, r: SplittableRandom): CsvBatch = {
    dir.mkdirs()
    val rows = for (o <- 0 until orders; ln <- 1 to Gen.LinesPerOrder)
      yield (key(firstOrder + o, ln), 1 + r.nextInt(50))
    val header = LineitemSchema.fieldNames.mkString(",")
    val bytes = rows.grouped(math.max(1, (rows.size + 1) / 2)).zipWithIndex.map { case (part, i) =>
      val text = (header +: part.map { case (k, q) => csvLine(k / 8, (k % 8).toInt, q) }).mkString("", "\n", "\n")
      val b = text.getBytes(StandardCharsets.UTF_8)
      Files.write(new File(dir, f"part-$i%05d.csv").toPath, b)
      b.length.toLong
    }.sum
    CsvBatch(rows, bytes)
  }

  private def lineFrame(rows: Seq[(Long, Int)]): DataFrame = {
    val rs = rows.map { case (k, q) =>
      val (ok, ln) = (k / 8, (k % 8).toInt)
      val v = lineValues(ok, ln, q)
      Row.fromSeq(v :+ partOf(ok))
    }
    spark.createDataFrame(rs.asJava, LineitemSchema.add("p", StringType))
  }

  private def orderFrame(orders: Seq[Long]): DataFrame =
    spark.createDataFrame(orders.map(o => Row(o)).asJava,
      StructType(Seq(StructField("l_orderkey", LongType))))

  private def window(r: SplittableRandom): (Long, Long) = {
    val maxOrder = shadow.keysIterator.map(_ / 8).max
    val lo = 1 + r.nextLong(math.max(1L, maxOrder - WindowOrders))
    (lo, lo + WindowOrders - 1)
  }

  /** `n` live line keys from one random window of orders. */
  private def pickLiveKeys(r: SplittableRandom, n: Int): Seq[Long] = {
    val (lo, hi) = window(r)
    val inWindow = shadow.keysIterator.filter(k => k / 8 >= lo && k / 8 <= hi).toVector.sorted
    shuffled(r, inWindow).take(n).sorted
  }

  private def pickLiveOrders(r: SplittableRandom, n: Int): Seq[Long] = {
    val (lo, hi) = window(r)
    val orders = shadow.keysIterator.map(_ / 8).filter(o => o >= lo && o <= hi).toVector.distinct.sorted
    shuffled(r, orders).take(n).sorted
  }

  private def shuffled[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (k <- a.indices.reverse) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
    a.toVector.asInstanceOf[Vector[A]]
  }

  private def linesOf(orders: Seq[Long]): Seq[Long] =
    for (o <- orders; ln <- 1 to Gen.LinesPerOrder if shadow.contains(key(o, ln))) yield key(o, ln)

  /** The smallest order bound whose slice holds at least the export's rows. */
  private def sliceBound(): Long = {
    val orders = shadow.keysIterator.map(_ / 8).toArray.sorted
    orders(math.min(orders.length - 1, scale.exportSliceRows.toInt))
  }

  private def liveFiles(): Seq[String] =
    ManifestTable.readManifest(spark, table, ManifestTable.currentVersion(spark, table))._1

  private def scanRatio(t: Tracer, span: String, scanned: Int, total: Int): Unit =
    t.note(span, "files_scanned_ratio", scanned.toDouble / math.max(1, total))

  private def bomFirst(f: File): Boolean = {
    val in = new java.io.FileInputStream(f)
    try { val b = in.readNBytes(3); b.length == 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte }
    finally in.close()
  }

  def finalChecks(): Seq[String] = {
    val rows = ManifestTable.readVersion(spark, table, ManifestTable.currentVersion(spark, table)).count()
    Option.when(rows != shadow.size)(s"manifest table holds $rows rows, shadow model ${shadow.size}").toSeq
  }

  override def storedPerUserByte: Option[Double] =
    Option.when(csvBytes > 0)(Workload.dirBytes(new File(table)).toDouble / csvBytes)

  def layerMetrics(ops: Ops): Seq[Metric] =
    Seq(
      Layers.spanMsPer(ops, "csv.read_all_string_ms_per_mb", "csv.read_all_string", "bytes", 1e6, "ms/MB"),
      Layers.spanMsPer(ops, "csv.write_counted_ms_per_mb", "exporter.spill", "bytes", 1e6, "ms/MB"),
      Layers.spanMs(ops, "exporter.spill_ms", "exporter.spill"),
      Layers.spanMs(ops, "manifest.commit_ms", "manifest.commit"),
      Layers.spanMs(ops, "manifest.merge_ms", "manifest.merge"),
      Layers.spanMs(ops, "manifest.delete_ms", "manifest.delete"),
      Layers.spanMs(ops, "manifest.deferred_delete_ms", "manifest.deferred_delete"),
      Layers.spanMs(ops, "manifest.optimize_ms", "manifest.optimize"),
      Layers.spanMs(ops, "manifest.vacuum_ms", "manifest.vacuum"),
      Layers.spanAttr(ops, "manifest.bytes_rewritten", "manifest.optimize", "bytes_rewritten", "bytes"),
      Layers.spanMs(ops, "manifest.read_pruned_ms", "manifest.read_pruned"),
      Layers.spanAttrAll(ops, "manifest.files_scanned_ratio", Seq("manifest.merge", "manifest.delete"),
        "files_scanned_ratio", "ratio"),
      Some(Metric("manifest.live_files", liveFiles().size.toDouble, "count", 1)),
      Layers.spanMs(ops, "dsv2.read_ms", "dsv2.read"),
      Layers.spanAttr(ops, "dsv2.files_read_ratio", "dsv2.read", "files_read_ratio", "ratio"),
      Layers.spanMs(ops, "stream.append_ms", "stream.append"),
      Layers.spanAttr(ops, "stream.add_batch_ms", "stream.append", "add_batch_ms", "ms"),
      Layers.streamFixed(ops)
    ).flatten
}

object Lifecycle {
  final case class CsvBatch(rows: Seq[(Long, Int)], bytes: Long)

  val MergeUpdates = 200
  val MergeInsertOrders = 10
  val DeleteOrders = 20
  val DeferredOrders = 20
  val WindowOrders = 1000L
  val StreamRows = 2000L

  def key(orderkey: Long, linenumber: Int): Long = orderkey * 8 + linenumber

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampType)))

  val StreamSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType), StructField("p", StringType)))

  /** The non-key columns of a line, closed-form as in [[Gen.lineitemFrame]]. */
  def lineValues(ok: Long, ln: Int, quantity: Int): Seq[Any] = Seq(
    ok, ln, (ok * 7 + ln) % 2000 + 1, (ok * 3 + ln) % 100 + 1, quantity.toDouble,
    ((ok * 9973 + ln) % 1000000).toDouble / 10, ((ok + ln) % 11).toDouble / 100,
    ((ok + 2 * ln) % 9).toDouble / 100, Seq("A", "N", "R")((ok % 3).toInt),
    new java.sql.Timestamp((757382400L + (ok % 2400) * 86400L) * 1000L))

  def csvLine(ok: Long, ln: Int, quantity: Int): String =
    lineValues(ok, ln, quantity).map {
      case ts: java.sql.Timestamp => ts.toInstant.toString.stripSuffix("Z").replace('T', ' ')
      case v => v.toString
    }.mkString(",")

  /** The format's scans in an executed plan, through AQE wrappers. */
  def graftScans(p: SparkPlan): Seq[GraftManifestScan] = {
    val here = p match {
      case b: BatchScanExec => b.scan match { case s: GraftManifestScan => Seq(s); case _ => Nil }
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(graftScans)
  }
}
