package graft.perfbench

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, SparkEntry}
import graft.handler.DistributedHandler

/** Wall-clock phases of one op. The body wraps the public entry call in
  * `call`, the action that runs it in `action` and a driver-side
  * collection in `gather`.
  */
final class Phases {
  val startMs: Long = System.currentTimeMillis()
  val t0: Long = System.nanoTime()
  val marks = ArrayBuffer.empty[(String, Long, Long)]

  def phase[T](kind: String)(f: => T): T = {
    val a = System.nanoTime()
    try f finally marks += ((kind, a, System.nanoTime()))
  }
  def call[T](f: => T): T = phase("call")(f)
  def action[T](f: => T): T = phase("action")(f)
  def gather[T](f: => T): T = phase("gather")(f)

  def seconds(kind: String): Double =
    marks.filter(_._1 == kind).map(m => m._3 - m._2).sum / 1e9
  def epochMs(ns: Long): Long = startMs + (ns - t0) / 1000000L
}

/** Outcome of one op's answer check: an error found by the harness, or
  * the answer's [[Canon]] hash, which `run.py` compares with the
  * expected answer.
  */
final case class Check(error: Option[String] = None,
    hash: Option[String] = None, rows: Long = 0L)

/** One closed-loop operation. `body` runs the timed phases and returns
  * the answer check, which the harness runs after the clock stops.
  * `headline` ops feed the end-to-end latency and throughput figures.
  */
final case class Op(id: String, family: String, items: Long,
    headline: Boolean, body: Phases => (() => Check))

trait Workload {
  def name: String
  def inputs: Map[String, Any]
  /** Seconds one pass over the op list takes on the reference host
    * (4 cores); a run makes round(--seconds / passSeconds) passes, at
    * least one, so the pass count never depends on timing noise.
    */
  def passSeconds: Double
  /** The warm-up scan that belongs to set-up. */
  def warmUp(s: SparkSession, dir: String): Unit
  /** Artifact builds the workload's readers need, by kind. */
  def primes: Seq[(String, (SparkSession, String) => Unit)]
  def ops(s: SparkSession, dir: String, seed: Long): Seq[Op]
}

/** `handler_1m`: the DistributedHandler façade at 10^6 driver-side items,
  * beside its Dataset-sourced forms, plus `batchedMap` at its default
  * batch size on a smaller item count (one task per
  * `n / defaultParallelism` items — see `DefaultItems`). `map` and
  * `gather` have no op of their own: `gatherAll` makes two `map` calls
  * over the 10^6 items and collects all of them.
  */
final class HandlerWorkload(cores: Int) extends Workload {
  val name = "handler_1m"
  val N = 1000000
  /** Item count for the default-batch-size op: it makes
    * ceil(n / defaultParallelism) tasks, so 10^6 items would be 250,000
    * tasks (an earlier probe finished ~41k of them in 590 s).
    */
  val DefaultItems = 2000
  val inputs: Map[String, Any] = Map("items" -> N,
    "default_batch_items" -> DefaultItems, "cores" -> cores)

  import HandlerWorkload.{f, g, h3}

  private def agg(ds: Dataset[Long]): (Long, Long) = {
    val r = ds.agg(sum("value"), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def expectAgg(got: (Long, Long), want: (Long, Long)) = () =>
    Check(if (got == want) None else Some(s"aggregate $got, expected $want"))

  private def expectSeq(got: Seq[Long], want: Array[Long]) = () =>
    Check(if (got.length != want.length)
      Some(s"gathered ${got.length} items, expected ${want.length}")
    else {
      val i = want.indices.find(i => got(i) != want(i))
      i.map(k => s"item $k is ${got(k)}, expected ${want(k)}")
    })

  def warmUp(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val h = DistributedHandler()
    val xs = ArraySeq.unsafeWrapArray(Array.tabulate(10000)(_.toLong))
    agg(h.map(xs)(f))
    agg(h.batchedMap(xs, 1000)(f))
    h.gather(h.mapN(Seq(xs, xs))(a => f(a(0).asInstanceOf[Long])))
    agg(h.mapDataset(s.range(0, 10000, 1, 8).as[Long])(f))
  }

  val passSeconds = 40.0

  def primes: Seq[(String, (SparkSession, String) => Unit)] = Nil

  def ops(s: SparkSession, dir: String, seed: Long): Seq[Op] = {
    import s.implicits._
    val rng = new java.util.SplittableRandom(seed)
    def items() = Array.fill(N)(rng.nextLong(1L << 40))
    val (a, b, c) = (items(), items(), items())
    val (as, bs, cs) = (ArraySeq.unsafeWrapArray(a), ArraySeq.unsafeWrapArray(b),
      ArraySeq.unsafeWrapArray(c))
    val fa = a.map(f)
    def total(xs: Array[Long]) = (xs.sum, xs.length.toLong)
    val aggF = total(fa)
    val aggG = total(Array.tabulate(N)(i => g(a(i), b(i))))
    val aggH = total(Array.tabulate(N)(i => h3(a(i), b(i), c(i))))
    val aggR = total(Array.tabulate(N)(i => f(i.toLong)))
    val small = as.take(DefaultItems)
    val aggSmall = total(fa.take(DefaultItems))
    val h = DistributedHandler()
    def range() = s.range(0, N, 1, 4 * cores).as[Long]
    def aggOp(id: String, want: (Long, Long), items: Long = N,
        headline: Boolean = true)(ds: => Dataset[Long]) =
      Op(id, "handler", items, headline, p => {
        val d = p.call(ds)
        expectAgg(p.action(agg(d)), want)
      })
    // the slowest op runs first: whatever JIT warm-up the set-up left
    // undone lands on the tail of the latency distribution, not its median
    Seq(
      aggOp("batchedMap_1000", aggF)(h.batchedMap(as, 1000)(f)),
      aggOp("batchedMapN_n16", aggG)(h.batchedMapN(Seq(as, bs), N / 16)(x =>
        g(x(0).asInstanceOf[Long], x(1).asInstanceOf[Long]))),
      aggOp("mapN", aggH)(h.mapN(Seq(as, bs, cs))(x =>
        h3(x(0).asInstanceOf[Long], x(1).asInstanceOf[Long],
          x(2).asInstanceOf[Long]))),
      aggOp("batchedMap_n16", aggF)(h.batchedMap(as, N / 16)(f)),
      Op("gatherAll", "handler", N, true, p => {
        val ds = p.call(Seq(h.map(as.take(N / 2))(f), h.map(as.drop(N / 2))(f)))
        expectSeq(p.gather(h.gatherAll(ds)), fa)
      }),
      aggOp("mapDataset", aggR)(h.mapDataset(range())(f)),
      aggOp("batchedMapDataset", aggR)(h.batchedMapDataset(range(), cores)(f)),
      aggOp("batchedMap_default", aggSmall, DefaultItems, headline = false)(
        h.batchedMap(small)(f)))
  }
}

object HandlerWorkload {
  private def mix(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z ^= z >>> 31
    z * 0xBF58476D1CE4E5B9L
  }
  // the mapped functions: 16-bit results, so 10^6-item sums cannot overflow
  def f(x: Long): Long = mix(x) & 0xffffL
  def g(a: Long, b: Long): Long = mix(a ^ (b << 1)) & 0xffffL
  def h3(a: Long, b: Long, c: Long): Long = mix(a + 3 * b + 7 * c) & 0xffffL
}

/** A query workload: each op is one `SparkEntry.queries` call whose
  * result is collected to the driver; the rows are hashed after the
  * clock stops. The inputs are fixed; the seed picks the op order. An op
  * is one item, so `items_per_s` is queries per second.
  */
final class QueryWorkload(val name: String, names: Seq[String],
    val primes: Seq[(String, (SparkSession, String) => Unit)],
    val passSeconds: Double, val inputs: Map[String, Any]) extends Workload {

  private lazy val queries = SparkEntry.queries

  def warmUp(s: SparkSession, dir: String): Unit = {
    SparkEntry.tune(s)
    s.range(1000).repartition(4).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save()
    // one column of every table: the reader's code paths, not all the data
    graft.Tables.all.filter(t => new java.io.File(s"$dir/$t.parquet").exists)
      .foreach { t =>
        val df = s.read.parquet(s"$dir/$t.parquet")
        df.select(df.columns.head).write.format("noop").mode("overwrite").save()
      }
  }

  def ops(s: SparkSession, dir: String, seed: Long): Seq[Op] =
    new scala.util.Random(seed).shuffle(names).map(n =>
      Op(n, QueryWorkload.family(n), 1L, headline = true, p => {
        val df = p.call(queries(n)(s, dir))
        val rows = p.action(df.collect())
        () => Check(hash = Some(Canon.hash(df.schema, rows)), rows = rows.length)
      }))
}

object QueryWorkload {
  private def suite(family: String, qs: Seq[Q]*) =
    qs.flatten.map(_.name -> family)

  /** Query name → the package that owns it. */
  lazy val family: Map[String, String] = (
    suite("operators", graft.operators.Relational.all,
      graft.operators.CustomJoins.all, graft.operators.Sketches.all,
      graft.operators.Profile.all, graft.operators.Dq.all) ++
    suite("text", graft.text.TextOps.all, graft.text.Sampling.all,
      graft.text.Decontam.all, graft.text.Packing.all, graft.text.Bpe.all,
      graft.text.Classify.all, graft.text.TextIndex.all,
      graft.text.Pipelines.all) ++
    suite("dedup", graft.dedup.Dedup.all, graft.dedup.Overlap.all) ++
    suite("sim", graft.sim.Knn.all, graft.sim.Pq.all, graft.sim.Quantize.all,
      graft.sim.SemDedup.all) ++
    suite("multimodal", graft.multimodal.Multimodal.all) ++
    suite("handler", graft.handler.HandlerQueries.all)).toMap

  /** Planning-, launch- and scan-bound operator and text queries, plus
    * one cheap query from each corpus family (shingle dedup with its
    * checkpoint barriers, exact kNN, multimodal dedup) and one reader of
    * a persisted artifact (the text index, built in set-up), so every
    * layer shows in one workload that fits the run.
    */
  val short: Seq[String] = Seq(
    "q03_join_agg", "q08_topk", "q14_date_agg", "q29_cohort",
    "asof_join_native", "dq_volume_anomaly",
    "text_tokens", "sample_split", "text_langid",
    "dedup_minhash_lsh", "knn_bruteforce", "mm_dedup", "text_search")
}

object Workloads {
  def apply(name: String, cores: Int): Workload = name match {
    case "handler_1m" => new HandlerWorkload(cores)
    case "short_queries_sf0.1" =>
      new QueryWorkload(name, QueryWorkload.short,
        Seq("text_index" -> ((s, d) => graft.text.TextIndex.prime(s, d))),
        passSeconds = 20.0,
        Map("sf" -> 0.1, "tables" -> "perfbench/data/sf0.1",
          "queries" -> QueryWorkload.short))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
