package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.query.{PageRequest, QueryEngine, SortSpec}

/** `viz_session`: one client runs the visualizer's whole flow over a
  * single `lineitem` parquet file — open, SQL, first page, page count,
  * sorted and next pages, an offset jump, a keyset walk, search with its
  * count and first page, schema, footer metadata, column suggestions,
  * copy, CSV and parquet export of the searched result, close.
  */
final class Viz(ctx: Ctx, rows: Long) extends Workload {
  import ctx._

  private val PageSize = 50
  private val Pool = 6
  private val sortCols = Seq("l_extendedprice", "l_partkey", "l_quantity", "l_shipdate")

  private final case class Script(qMin: Int, day: String, sort: SortSpec,
      deepFrac: Double, term: String, prefix: String) {
    def where: String = s"l_quantity >= $qMin AND l_shipdate < TIMESTAMP '$day 00:00:00'"
    def sql: String = s"SELECT * FROM data WHERE $where"
  }
  private final case class Ref(resultRows: Long, searchRows: Long)

  private var path: String = _
  private var scripts: IndexedSeq[Script] = _
  private var refs: IndexedSeq[Ref] = _

  def generate(): Unit = {
    val words = gen.vocab(300, 1)
    path = s"${dir("inputs")}/lineitem.parquet"
    gen.writeSingleFile(gen.lineitem(rows, words), path)
    val data = spark.read.parquet(path)
    // search terms are words of comments present in the data
    val sample = data.filter(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(gen.seed)), lit(1000)) === 0).select("l_comment")
      .collect().flatMap(_.getString(0).split(" ")).distinct.sorted.toIndexedSeq
    val r = gen.rng(2)
    scripts = (0 until Pool).map { _ =>
      // constants keep the result at 90-100% of the file and the deep
      // page at 60-80% of it, so every seed's sessions cost alike
      Script(qMin = 1 + r.nextInt(3),
        day = f"1998-${7 + r.nextInt(6)}%02d-01",
        sort = SortSpec(sortCols(r.nextInt(sortCols.length)), r.nextBoolean()),
        deepFrac = 0.6 + 0.2 * r.nextDouble(),
        term = sample(r.nextInt(sample.length)),
        prefix = Seq("l_s", "l_e", "ship", "price", "l_c")(r.nextInt(5)))
    }
  }

  def references(): Unit = {
    val data = spark.read.parquet(path)
    // references: plain Spark SQL over the raw file, one scan for all
    // scripts — row counts of each SQL result and of its searched rows
    // (CAST(col AS STRING) LIKE '%term%' OR-ed over every column)
    data.createOrReplaceTempView("ref_lineitem")
    val cols = data.columns
    val aggs = scripts.flatMap { s =>
      val like = cols.map(c => s"CAST($c AS STRING) LIKE '%${s.term}%'").mkString(" OR ")
      Seq(s"count_if(${s.where})", s"count_if((${s.where}) AND ($like))")
    }
    val got = spark.sql(s"SELECT ${aggs.mkString(", ")} FROM ref_lineitem").head()
    refs = scripts.indices.map(i => Ref(got.getLong(2 * i), got.getLong(2 * i + 1)))
  }

  def warmup(): Unit = (1 to 2).foreach(k => session(-1, scripts(Pool - k), refs(Pool - k)))

  def cycle(i: Int): Unit = session(i, scripts(i % Pool), refs(i % Pool))

  def rotation: Int = Pool

  private def cacheOf(df: DataFrame) =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  private def cacheLoaded(df: DataFrame): Boolean =
    cacheOf(df).exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def session(u: Int, s: Script, ref: Ref): Unit = {
    val engine = tracer.span("sources.open", u)(_ => new QueryEngine(spark, path))
    try {
      tracer.span("query.engine.query", u)(_ => engine.query(s.sql))
      val pag = engine.paginator
      // one page call; returns the span so its check runs after it closed
      def page(kind: String, req: PageRequest): (Span, Seq[Row]) =
        tracer.span("query.paginator.page", u) { sp =>
          sp.attrs("cache_loaded") = if (cacheLoaded(engine.queryResult)) 1 else 0
          sp.attrs(kind) = 1
          val got = pag.page(req).collect().toSeq
          sp.attrs("rows") = got.length
          (sp, got)
        }
      val (firstSpan, first) = page("first", PageRequest(1, Some(PageSize)))
      Check(firstSpan, first.length == math.min(PageSize, ref.resultRows),
        s"first page has ${first.length} rows")
      cacheOf(engine.queryResult).foreach(c => firstSpan.attrs("cache_bytes") =
        c.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.toDouble)
      val (countSpan, pages) = tracer.span("query.paginator.count", u) { sp =>
        (sp, pag.totalPages(Some(PageSize)))
      }
      Check(countSpan, pages == (ref.resultRows + PageSize - 1) / PageSize,
        s"totalPages $pages for ${ref.resultRows} rows")
      val sorted = (1 to 3).map { p =>
        val (sp, got) = page(if (p == 1) "sorted" else "next",
          PageRequest(p, Some(PageSize), sort = Some(s.sort)))
        Check(sp, got.length == PageSize, s"sorted page $p has ${got.length} rows")
        got
      }
      val deep = math.max(4, (pages * s.deepFrac).toInt)
      val (deepSpan, deepRows) = page("deep", PageRequest(deep, Some(PageSize), sort = Some(s.sort)))
      Check(deepSpan,
        deepRows.length == math.min(PageSize, ref.resultRows - (deep - 1).toLong * PageSize),
        s"deep page $deep has ${deepRows.length} rows")
      // keyset walk in the same order: must equal the offset pages
      var cursor: Option[graft.query.PageCursor] = None
      (1 to 3).foreach { p =>
        val (sp, got) = tracer.span("query.paginator.page", u) { sp =>
          sp.attrs("cache_loaded") = if (cacheLoaded(engine.queryResult)) 1 else 0
          sp.attrs("keyset") = 1
          val (got, next) = pag.pageWithCursor(
            PageRequest(1, Some(PageSize), sort = Some(s.sort)), cursor)
          cursor = next
          sp.attrs("rows") = got.length
          (sp, got)
        }
        Check(sp, got == sorted(p - 1), s"keyset page $p differs from offset page $p")
      }
      val (searchSpan, matched, firstHits) = tracer.span("query.search.page", u) { sp =>
        val sp2 = engine.searchPaginator(s.term)
        val n = sp2.totalItems
        val got = sp2.page(PageRequest(1, Some(PageSize))).collect()
        sp.attrs("rows") = got.length
        (sp, n, got.length)
      }
      searchSpan.attrs("matched") = matched
      searchSpan.attrs("searched_over") = ref.resultRows
      Check(searchSpan, matched == ref.searchRows,
        s"search '${s.term}' counted $matched, reference ${ref.searchRows}")
      Check(searchSpan, firstHits == math.min(PageSize, matched), s"search page has $firstHits rows")
      val (schemaSpan, schema) = tracer.span("query.inspect.schema", u)(sp => (sp, engine.schema.collect()))
      Check(schemaSpan, schema.length == engine.data.columns.length, s"schema has ${schema.length} rows")
      val (metaSpan, meta) = tracer.span("query.inspect.metadata", u)(sp => (sp, engine.metadata.collect()))
      Check(metaSpan, meta.exists(r => r.getString(0) == "num_rows" && r.getString(1) == rows.toString),
        "metadata lacks the file's num_rows")
      val (sugSpan, sug) = tracer.span("query.engine.suggest", u)(sp => (sp, engine.suggestColumns(s.prefix)))
      Check(sugSpan, sug.nonEmpty, s"no column suggested for '${s.prefix}'")
      val (copySpan, tsv) = tracer.span("exporters.copy", u) { sp =>
        (sp, engine.copyPage(PageRequest(2, Some(PageSize), sort = Some(s.sort))))
      }
      Check(copySpan, tsv.split("\n").length == PageSize + 1, "copied page is not header + page")
      val out = dir(s"out/s$u")
      for (kind <- Seq("csv", "parquet")) {
        val target = s"$out/export.$kind"
        val sp = tracer.span(s"exporters.$kind", u) { sp =>
          engine.export(kind, target, search = Some(s.term)); sp
        }
        sp.attrs("bytes_written") = Fs.bytesUnder(target)
        val back =
          if (kind == "csv") spark.read.option("header", "true").csv(target)
          else spark.read.parquet(target)
        val n = back.count()
        Check(sp, n == ref.searchRows, s"$kind export re-reads to $n rows, searched ${ref.searchRows}")
      }
      Fs.rm(out)
      // the result and its cache are still open
      Mem.probe()
    } finally tracer.span("query.engine.close", u)(_ => engine.close())
  }
}
