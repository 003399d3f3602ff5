package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, DedupStore, NearDupStore}

/** The corpus half of `lake_corpus`: one maintainer ingests a seeded
  * corpus — originals plus exact copies, one-word-edit near-duplicates
  * and distinct rewrites — in batches; each batch runs
  * `DedupStore.ingest` (exact) then `NearDupStore.ingest` (MinHash-LSH).
  * When the corpus is used up a new round starts on fresh stores.
  */
final class Corpus(ctx: Ctx, originals: Int, batches: Int) extends Workload {
  import ctx._

  private var docsDir: String = _
  private var texts: Map[Int, Array[(Long, String)]] = _
  // per near-dup ingest: its span, the ids ingested so far in the round
  // and the union of pairs so far, checked in `finish`
  private val pending = mutable.ArrayBuffer.empty[(Span, Set[Long], Set[(Long, Long)])]
  private var round = -1
  private var stores: String = _
  private val seen = mutable.Set.empty[Long]
  private val contents = mutable.Set.empty[String]
  private val pairs = mutable.Set.empty[(Long, Long)]

  def generate(): Unit = {
    docsDir = dir("corpus")
    val r = gen.rng(4)
    val words = gen.vocab(40, 5)
    def doc(): IndexedSeq[String] = IndexedSeq.fill(20 + r.nextInt(60))(words(r.nextInt(words.length)))
    val orig = IndexedSeq.fill(originals)(doc())
    val copies = IndexedSeq.fill(originals / 2)(orig(r.nextInt(originals)))
    val edits = IndexedSeq.fill(originals / 2) {
      val d = orig(r.nextInt(originals))
      d.updated(r.nextInt(d.length), words(r.nextInt(words.length)))
    }
    val rewrites = IndexedSeq.fill(originals * 3 / 10)(r.shuffle(orig(r.nextInt(originals))))
    val all = r.shuffle(orig ++ copies ++ edits ++ rewrites).map(_.mkString(" "))
    val ids = r.shuffle(all.indices.map(_.toLong * 7 + 3))
    val per = (all.length + batches - 1) / batches
    val rowsOut = all.indices.map(i => Row(i / per, ids(i), all(i)))
    texts = rowsOut.groupBy(_.getInt(0)).map { case (b, xs) =>
      b -> xs.map(x => (x.getLong(1), x.getString(2))).toArray
    }
    val schema = StructType(Seq(StructField("batch", IntegerType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rowsOut, 4), schema)
      .repartition(col("batch")).write.mode("overwrite").partitionBy("batch").parquet(docsDir)
  }

  // exact-store references are counted from the generated texts as the
  // batches go; the near-dup reference is built in `finish`
  def references(): Unit = ()

  /** One-shot MinHash-LSH over the whole corpus — a separate code path
    * from the incremental store — after the timed loop, when the
    * kernels are warm (cold, it would add seconds to every set-up).
    * After every batch, the union of the store's pairs so far must equal
    * it restricted to the docs ingested so far.
    */
  override def finish(): Unit = {
    val ref = Dedup.minhashLsh(spark.read.parquet(docsDir), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8,
        maxBucket = Int.MaxValue)
      .select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    Dedup.releaseCaches()
    pending.foreach { case (sp, ids, got) =>
      val want = ref.filter { case (a, c) => ids.contains(a) && ids.contains(c) }
      Check(sp, got == want, s"near-dup pairs after batch ${sp.attrs("batch").toInt}: " +
        s"${got.size} (${(got -- want).size} extra, ${(want -- got).size} missing) " +
        "against the one-shot reference")
    }
  }

  private def batchDf(b: Int) = spark.read.parquet(s"$docsDir/batch=$b")

  def warmup(): Unit = {
    ingest(-1, 0)
    round = -1
  }

  def cycle(i: Int): Unit = ingest(i, i % batches)

  // every run ingests batches 0, 1, ... in order into fresh stores
  def rotation: Int = 1

  private def ingest(u: Int, b: Int): Unit = {
    if (b == 0) {
      round += 1
      if (stores != null) Fs.rm(stores)
      stores = dir(s"stores/r$round")
      seen.clear(); contents.clear(); pairs.clear()
    }
    tracer.span("corpus.batch", u) { cyc =>
      cyc.attrs("round") = round
      cyc.attrs("batch") = b
      cyc.attrs("docs") = texts(b).length
      val (exactSpan, survivors) = tracer.span("operators.dedup.exact", u) { sp =>
        (sp, DedupStore.ingest(spark, batchDf(b), "doc_id", "text", s"$stores/exact", tag = b))
      }
      exactSpan.attrs("survivors") = survivors.count()
      texts(b).foreach { case (id, t) => seen += id; contents += t }
      val stored = DedupStore.read(spark, s"$stores/exact").count()
      Check(exactSpan, stored == contents.size,
        s"exact store holds $stored hashes after batch $b, corpus has ${contents.size} distinct")
      val (nearSpan, got) = tracer.span("operators.dedup.near", u) { sp =>
        (sp, NearDupStore.ingest(spark, batchDf(b), "doc_id", "text", s"$stores/near", tag = b))
      }
      val batchPairs = got.select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1)))
      nearSpan.attrs("pairs") = batchPairs.length
      nearSpan.attrs("batch") = b
      Check(nearSpan, batchPairs.length == batchPairs.distinct.length &&
        batchPairs.forall(p => !pairs.contains(p)), s"batch $b emitted a pair twice")
      pairs ++= batchPairs
      pending += ((nearSpan, seen.toSet, pairs.toSet))
      cyc.attrs("store_files") = Fs.files(stores)
    }
  }
}
