package graft

import graft.handler.DistributedHandler

/** Mirrors the reference's own tests
  * (`/root/reference/tests/test_distributed_handler.py`): map /
  * batched_map / stdlib results agree, batch size defaults to the worker
  * count, context-manager lifecycle works. Beyond them: batched results
  * come back in input order, and the batching plan is shuffle-free.
  */
object HandlerSpec {
  // standalone lambda: Spark serializes the closure, so it must not drag
  // the (non-serializable) suite instance along
  val f: Int => Int = x => x * x

  def shuffles(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds.queryExecution.executedPlan.toString.contains("Exchange")
}

class HandlerSpec extends SparkSpec {
  import spark.implicits._
  import HandlerSpec.{f, shuffles}

  private val items = (1 to 100).toList

  test("map matches stdlib map (order-insensitive)") {
    val h = DistributedHandler()
    val got = h.gather(h.map(items)(f)).sorted
    assert(got == items.map(f).sorted)
  }

  test("batchedMap matches map for any batch size") {
    val h = DistributedHandler()
    for (bs <- Seq(1, 7, 100, 1000)) {
      val got = h.gather(h.batchedMap(items, bs)(f))
      assert(got == items.map(f), s"batchSize=$bs")
    }
  }

  test("batchedMap bounds concurrent tasks by batch size") {
    val h = DistributedHandler()
    // ceil(n / batchSize) contiguous batches; batchSize >= n is one batch
    for ((bs, parts) <- Seq(25 -> 4, 30 -> 4, 99 -> 2, 100 -> 1, 1000 -> 1)) {
      val ds = h.batchedMap(items, bs)(f)
      assert(ds.rdd.getNumPartitions == parts, s"batchSize=$bs")
      assert(!shuffles(ds), s"batchSize=$bs: ${ds.queryExecution.executedPlan}")
    }
  }

  test("gatherAll gathers futures from several map calls in one job, " +
      "in input order") {
    val h = DistributedHandler()
    val a = h.map(Seq(1, 2, 3))(_ * 10)
    val b = h.batchedMap(Seq(4, 5), 1)(_ * 10)
    val got = h.gatherAll(Seq(a, b))
    assert(got == Seq(10, 20, 30, 40, 50),
      "mixed gather must concatenate per-handle results in input order")
    intercept[IllegalArgumentException] { h.gatherAll(Seq.empty[
      org.apache.spark.sql.Dataset[Int]]) }
  }

  test("map2 zips two iterables") {
    val h = DistributedHandler()
    val got = h.gather(h.map2(items, items.map(_ * 10))(_ + _)).sorted
    assert(got == items.map(x => x + x * 10).sorted)
  }

  test("map3 and mapN zip n iterables like reference client.map(f, *its)") {
    val h = DistributedHandler()
    val (as, bs, cs) = (items, items.map(_ * 10), items.map(_ * 100))
    val expected = as.lazyZip(bs).lazyZip(cs).map(_ + _ + _).sorted
    val got3 = h.gather(h.map3(as, bs, cs)(_ + _ + _)).sorted
    assert(got3 == expected)
    val gotN = h.gather(
      h.mapN(Seq(as, bs, cs))(_.map(_.asInstanceOf[Int]).sum)).sorted
    assert(gotN == expected)
  }

  test("mapN zips heterogeneous types, truncates to the shortest") {
    val h = DistributedHandler()
    val got = h.gather(h.mapN(Seq(Seq(1, 2, 3), Seq("a", "b")))(
      xs => s"${xs(0)}${xs(1)}")).sorted
    assert(got == Seq("1a", "2b"))
  }

  test("batchedMapN matches mapN and bounds tasks") {
    val h = DistributedHandler()
    val sum: Seq[Any] => Int = _.map(_.asInstanceOf[Int]).sum
    assert(h.gather(h.mapN(Seq(items, items))(sum)) == items.map(_ * 2))
    for ((bs, parts) <- Seq(7 -> 15, 25 -> 4, 100 -> 1, 1000 -> 1)) {
      val ds = h.batchedMapN(Seq(items, items), bs)(sum)
      assert(ds.rdd.getNumPartitions == parts, s"batchSize=$bs")
      assert(!shuffles(ds), s"batchSize=$bs: ${ds.queryExecution.executedPlan}")
      assert(h.gather(ds) == items.map(_ * 2), s"batchSize=$bs")
    }
  }

  test("handles snapshot their items at call time; empty inputs are total") {
    val h = DistributedHandler()
    val arr = Array.tabulate(100)(identity)
    val xs = scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    val handles = Seq(h.map(xs)(f), h.batchedMap(xs, 7)(f),
      h.mapN(Seq(xs, xs))(r =>
        f(r(0).asInstanceOf[Int]) + r(1).asInstanceOf[Int]))
    java.util.Arrays.fill(arr, -1) // before anything runs
    val sq = (0 until 100).map(f)
    // sorted: this pins the snapshot alone; the order specs pin order
    assert(handles.map(h.gather(_).sorted) ==
      Seq(sq, sq, sq.zipWithIndex.map { case (y, i) => y + i }.sorted),
      "a handle must not see mutations made after the map call")
    val none = Seq.empty[Int]
    assert(h.gather(h.map(none)(f)).isEmpty)
    assert(h.gather(h.batchedMap(none, 7)(f)).isEmpty)
    assert(h.gather(h.batchedMap(none)(f)).isEmpty)
    assert(h.gather(h.mapN(Seq(none, Seq(1)))(_.size)).isEmpty)
    assert(h.gather(h.batchedMapN(Seq(none), 3)(_.size)).isEmpty)
    intercept[IllegalArgumentException] { h.mapN(Seq())(_.size) }
    intercept[IllegalArgumentException] { h.batchedMapN(Seq(), 3)(_.size) }
    intercept[IllegalArgumentException] { h.batchedMapN(Seq())(_.size) }
  }

  test("defaultBatchSize is the cluster parallelism") {
    val h = DistributedHandler()
    assert(h.defaultBatchSize == spark.sparkContext.defaultParallelism)
    // batch size omitted: one batch per worker, whatever the item count
    for (n <- Seq(3, 100, 1000000)) {
      assert(h.batchedMap(1 to n)(f).rdd.getNumPartitions ==
        h.defaultBatchSize, s"n=$n")
      assert(h.batchedMapN(Seq(1 to n))(_.size).rdd.getNumPartitions ==
        h.defaultBatchSize, s"n=$n")
    }
  }

  test("explicit master reuses a matching session, rejects a mismatch") {
    val h = DistributedHandler(Some(spark.sparkContext.master))
    assert(h.spark eq spark)
    h.close()
    assert(!spark.sparkContext.isStopped)
    intercept[IllegalStateException] {
      DistributedHandler(Some("spark://elsewhere:7077"))
    }
  }

  test("withHandler context manager closes without stopping the session") {
    val res = DistributedHandler.withHandler() { h =>
      h.gather(h.map(List(1, 2, 3))(_ + 1)).sorted
    }
    assert(res == List(2, 3, 4))
    assert(!spark.sparkContext.isStopped)
  }
}
