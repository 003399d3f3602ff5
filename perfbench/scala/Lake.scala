package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SnapshotTable
import graft.query.{PageRequest, QueryEngine}

/** The snapshot-table half of `lake_corpus`: one writer works a table
  * made from `orders` (created as 16 key-range files with stats
  * attached). Each commit is an `upsert` of a seeded change batch
  * (updates, tombstones, inserts) plus `attachStatsIncremental`; a read
  * follows — `scanBetween` on a seeded key range with its count, then a
  * pinned `QueryEngine` first page. Every fourth commit is followed by
  * `compact` and `vacuum`. Three batches in four hit one narrow key
  * window; the fourth is scattered over all keys.
  */
final class Lake(ctx: Ctx, rows: Long) extends Workload {
  import ctx._

  // one warm-up commit and up to three rotations
  private val Batches = 13
  private val Window = math.max(100L, rows / 50)
  private val Key = "o_orderkey"
  private val PageSize = 50
  private val CompactEvery = 4

  private var table: String = _
  private var changes: String = _
  private var changeBytes: Array[Long] = _
  private var ranges: IndexedSeq[(Long, Long)] = _
  // latest-wins model of the generated batches: live key -> row hash
  private val model = mutable.HashMap.empty[Long, Long]
  private var batchRows: Map[Int, Array[(Long, Long, Boolean)]] = _
  private var committed = 0

  def generate(): Unit = {
    table = dir("table")
    changes = dir("changes")
    val base = gen.orders(rows)
    SnapshotTable.create(spark, base.repartitionByRange(16, col(Key)), table)
    SnapshotTable.attachStats(spark, table, Seq(Key))
    // change batches, all written by one job (one directory per batch)
    val r = gen.rng(3)
    // every fourth batch is the scattered one, right before the periodic
    // compaction, so every run sees the same commit mix; the seed picks
    // how much of that batch spreads over all keys (the rest stays in a
    // window), the windows, the keys and the delete share
    val scatterShare = 0.5 + 0.5 * r.nextDouble()
    val deleteShare = 0.05 + 0.10 * r.nextDouble()
    val statuses = Seq("F", "O", "P")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val rowsOut = mutable.ArrayBuffer.empty[Row]
    (0 until Batches).foreach { b =>
      val scattered = b % CompactEvery == CompactEvery - 1
      val lo = (r.nextDouble() * (rows - Window)).toLong
      val n = 300 + r.nextInt(300)
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < n) {
        val id =
          if (scattered && r.nextDouble() < scatterShare) (r.nextDouble() * rows).toLong
          else lo + (r.nextDouble() * Window).toLong
        // a quarter are inserts between existing keys
        keys += (if (r.nextInt(4) == 0) id * 4 + 2 + r.nextInt(2) else id * 4 + 1)
      }
      keys.foreach { k =>
        rowsOut += Row(b, k, 1L + r.nextInt(15000), statuses(r.nextInt(3)),
          (90000 + r.nextInt(50000000)) / 100.0,
          new java.sql.Timestamp((694224000L + r.nextInt(2400) * 86400L) * 1000L),
          prios(r.nextInt(5)), b.toLong + 1, r.nextDouble() < deleteShare)
      }
    }
    val schema = StructType(Seq(
      StructField("batch", IntegerType), StructField(Key, LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType), StructField("commit_v", LongType),
      StructField("_deleted", BooleanType)))
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(rowsOut.toSeq, 4), schema)
    all.repartition(col("batch")).write.mode("overwrite").partitionBy("batch").parquet(changes)
    changeBytes = (0 until Batches).map(b => Fs.bytesUnder(batchPath(b))).toArray
    ranges = (0 until Batches).map { _ =>
      val lo = (r.nextDouble() * (rows - Window)).toLong * 4
      (lo, lo + Window * 4)
    }
  }

  def references(): Unit = {
    // the model starts from the generated base rows and the
    // row hash of every change, both computed by plain Spark
    gen.orders(rows).select(col(Key), gen.ordersRowHash).collect()
      .foreach(x => model(x.getLong(0)) = x.getLong(1))
    batchRows = spark.read.parquet(changes)
      .select(col("batch"), col(Key), gen.ordersRowHash, col("_deleted"))
      .collect().groupBy(_.getInt(0)).map { case (b, xs) =>
        b -> xs.map(x => (x.getLong(1), x.getLong(2), x.getBoolean(3)))
      }
  }

  private def batchPath(b: Int) = s"$changes/batch=$b"

  def warmup(): Unit = commitAndRead(-1)

  def cycle(i: Int): Unit = commitAndRead(i)

  // three windowed commits and the scattered one, which the compaction follows
  def rotation: Int = CompactEvery

  override def remaining: Int = Batches - committed

  private def liveBytes(files: Seq[String]): Long =
    files.map(f => new java.io.File(new Path(f).toUri.getPath).length).sum

  private def newFiles(before: Set[String], after: Seq[String]) = after.filterNot(before.contains)

  private def commitAndRead(u: Int): Unit = tracer.span("lake.cycle", u) { cyc =>
    val b = committed
    val before = SnapshotTable.files(spark, table).toSet
    val (upSpan, commit) = tracer.span("operators.snapshot.upsert", u) { sp =>
      (sp, SnapshotTable.upsert(spark, table, spark.read.parquet(batchPath(b)),
        Key, "commit_v", "o_totalprice"))
    }
    committed += 1
    val fresh = newFiles(before, commit.files)
    upSpan.attrs("files_rewritten") = before.size - commit.filesReused
    upSpan.attrs("files_written") = fresh.length
    upSpan.attrs("bytes_written") = liveBytes(fresh)
    upSpan.attrs("change_bytes") = changeBytes(b)
    val (statsSpan, (_, scanned)) = tracer.span("operators.snapshot.stats", u) { sp =>
      (sp, SnapshotTable.attachStatsIncremental(spark, table, Seq(Key)))
    }
    statsSpan.attrs("footers_scanned") = scanned
    batchRows(b).foreach { case (k, h, del) => if (del) model.remove(k) else model(k) = h }
    checkVersion(upSpan, commit.version)

    // read: pruned range scan with its count, then a pinned first page
    val (lo, hi) = ranges(b)
    val (pruneSpan, (df, prune)) = tracer.span("operators.snapshot.prune", u) { sp =>
      (sp, SnapshotTable.scanBetween(spark, table, Key, lo, hi))
    }
    prune.foreach { p =>
      pruneSpan.attrs("files_kept") = p.filesKept
      pruneSpan.attrs("files_total") = p.filesTotal
    }
    Check(pruneSpan, prune.isDefined, "scanBetween found no stats index")
    val (scanSpan, n) = tracer.span("operators.snapshot.scan", u)(sp => (sp, df.count()))
    val want = model.iterator.filter { case (k, _) => k >= lo && k <= hi }.map(_._2)
      .foldLeft((0L, 0L)) { case ((c, s), h) => (c + 1, s + h) }
    val got = df.agg(count(lit(1)), coalesce(sum(gen.ordersRowHash), lit(0L))).head()
    Check(scanSpan, n == want._1 && got.getLong(0) == want._1 && got.getLong(1) == want._2,
      s"scanBetween [$lo,$hi] gave $n rows (hash ${got.getLong(1)}), model ${want._1} (${want._2})")
    val engine = tracer.span("sources.open", u)(_ => new QueryEngine(spark, table))
    try {
      val (pageSpan, page) = tracer.span("query.paginator.page", u) { sp =>
        sp.attrs("first") = 1
        (sp, engine.paginator.page(PageRequest(1, Some(PageSize))).collect())
      }
      Check(pageSpan, page.length == math.min(PageSize, model.size), s"pinned page has ${page.length} rows")
    } finally tracer.span("query.engine.close", u)(_ => engine.close())

    if (committed % CompactEvery == 0) {
      val pre = SnapshotTable.files(spark, table).toSet
      val (cSpan, c) = tracer.span("operators.snapshot.compact", u) { sp =>
        (sp, SnapshotTable.compact(spark, table, targetRecords = math.max(1000L, rows / 16),
          sortOn = Some(Key)))
      }
      val cf = newFiles(pre, c.files)
      cSpan.attrs("files_written") = cf.length
      cSpan.attrs("bytes_written") = liveBytes(cf)
      val (s2, (_, sc)) = tracer.span("operators.snapshot.stats", u) { sp =>
        (sp, SnapshotTable.attachStatsIncremental(spark, table, Seq(Key)))
      }
      s2.attrs("footers_scanned") = sc
      checkVersion(cSpan, c.version)
      tracer.span("operators.snapshot.vacuum", u) { _ =>
        SnapshotTable.vacuum(spark, table, keepLast = 2, graceMs = 0L)
      }
    }
    val live = SnapshotTable.files(spark, table)
    cyc.attrs("files_live") = live.length
    cyc.attrs("live_bytes") = liveBytes(live)
    cyc.attrs("disk_bytes") = Fs.bytesUnder(s"$table/data")
  }

  /** The version's row count and content hash equal the model's. */
  private def checkVersion(s: Span, v: Long): Unit = {
    val got = SnapshotTable.read(spark, table, Some(v))
      .agg(count(lit(1)), coalesce(sum(gen.ordersRowHash), lit(0L))).head()
    val want = (model.size.toLong, model.valuesIterator.sum)
    Check(s, got.getLong(0) == want._1 && got.getLong(1) == want._2,
      s"version $v has ${got.getLong(0)} rows (hash ${got.getLong(1)}), model ${want._1} (${want._2})")
  }
}
