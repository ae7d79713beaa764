package perfbench

import graft.sources.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference lifecycle driven through `graft.sources.Store` on
  * `lineitem`: `l_orderkey` stands for the game, the order year for the
  * season, and a play number minted per game (`l_playid`; the corpus's
  * `(l_orderkey, l_linenumber)` pairs are not unique) completes the row
  * key, as `(game_id, play_id)` does in the reference. Each pass rebuilds the store over every season but the last,
  * delivers the last season's orders in [[Batches]] seeded batches through
  * the anti-join `update` (each batch re-delivers [[Redelivered]] orders
  * the store already holds), reads a verification aggregate after each
  * update, then runs one `upsert` and one `compact`.
  *
  * Checks: every verification read must match the rows delivered so far
  * with no duplicated row key, and every update must append exactly the
  * new orders. In the checked cycle the final rows must equal the delivered
  * source rows, the upsert must replace exactly its keys, and the
  * compaction must preserve the row multiset. */
final class EtlWorkload(seed: Long) extends Workload {
  val name = "etl"
  val queries: Seq[String] = Nil

  private val Batches = 2
  private val Redelivered = 25
  private val UpsertOrders = 40
  private val Marker = 1000.0
  private val Keys = Seq("l_orderkey", "l_playid")

  import EtlWorkload.Order

  /** The delivered source rows (written once per run, in the first cycle's
    * directory) and their per-order summary. */
  private var prepared: Option[(String, Vector[Order])] = None

  private def prepare(run: Run): (String, Vector[Order]) = {
    val spark = run.spark
    val path = s"${run.dir}/etl_source"
    val lineitem = spark.read.parquet(s"${run.corpus}/lineitem.parquet")
    val play = Window.partitionBy("l_orderkey").orderBy(lineitem.columns.map(col): _*)
    lineitem.withColumn("l_playid", row_number().over(play))
      .join(spark.read.parquet(s"${run.corpus}/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), year(col("o_orderdate")).as("season")),
        "l_orderkey")
      .write.parquet(path)
    val orders = spark.read.parquet(path).groupBy("l_orderkey", "season")
      .agg(count(lit(1)), sum("l_quantity")).collect()
      .map(r => Order(r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_.key).toVector
    (path, orders)
  }

  def open(run: Run): Int => Seq[Op] = {
    val spark = run.spark
    import spark.implicits._
    val (srcPath, orders) = prepared.getOrElse {
      val inputs = run.untimed(prepare(run))
      prepared = Some(inputs)
      inputs
    }
    val source = spark.read.parquet(srcPath)
    val columns = source.columns.toSeq
    val store = Store(spark, s"${run.dir}/etl_store", "season")

    // the delivery plan: a function of the seed alone
    val rng = new scala.util.Random(seed)
    val seasons = orders.map(_.season).distinct.sorted
    val (heldIn, fresh) = orders.partition(_.season != seasons.last)
    val freshBatches = rng.shuffle(fresh).grouped((fresh.size + Batches - 1) / Batches).toVector
    val deliveries = freshBatches.indices.map { k =>
      val known = heldIn ++ freshBatches.take(k).flatten
      freshBatches(k) ++ rng.shuffle(known).take(Redelivered)
    }
    val upserted = rng.shuffle(heldIn).take(UpsertOrders)

    def keyed(os: Seq[Order]): DataFrame =
      source.join(broadcast(os.map(_.key).toDF("l_orderkey")), "l_orderkey")
    val batches = deliveries.map(keyed)
    val updates = keyed(upserted).withColumn("l_quantity", col("l_quantity") + Marker)
    def expected(os: Seq[Order]) = (os.map(_.rows).sum, os.map(_.qty).sum, os.size.toLong)
    val live = deliveries.indices.map(k => heldIn ++ freshBatches.take(k + 1).flatten)
    val upsertedRows = upserted.map(_.rows).sum

    def contentSum(df: DataFrame): (Long, Long) = {
      val h = pmod(xxhash64(columns.map(col): _*), lit(Int.MaxValue.toLong))
      val r = df.agg(count(lit(1)), sum(h)).head()
      (r.getLong(0), r.getLong(1))
    }
    def verify(what: String, got: Any, want: Any): Unit =
      if (got != want) throw new IllegalStateException(s"$what: got $got, expected $want")
    def liveFiles(r: Run): Unit = {
      val (files, bytes) = Run.dataFiles(store.path)
      r.max("files_live", files.toDouble)
      r.max("store_bytes", bytes.toDouble)
    }
    var beforeCompact = (0L, 0L)

    val rebuild = Op("rebuild",
      run = r => r.span("Store.rebuild")(store.rebuild(
        seasons.init.iterator.map(s => source.where(col("season") === s)))),
      after = liveFiles)
    val perBatch = deliveries.indices.flatMap { k =>
      val (rows, qty, games) = expected(live(k))
      val newRows = expected(freshBatches(k))._1
      Seq(
        Op("update",
          run = r => {
            val n = r.span("Store.update")(store.update(batches(k), Seq("l_orderkey")))
            r.add("offered_rows", expected(deliveries(k))._1.toDouble)
            r.add("appended_rows", n.toDouble)
            verify(s"rows appended by update $k", n, newRows)
          },
          after = liveFiles),
        Op("read",
          run = r => {
            val got = r.span("Store.read")(store.read.agg(count(lit(1)),
              count_distinct(col("l_orderkey"), col("l_playid")),
              count_distinct(col("l_orderkey")), sum("l_quantity")).head())
            r.resultRows("read") = 1L
            verify(s"rows after update $k", got.getLong(0), rows)
            verify(s"distinct row keys after update $k", got.getLong(1), rows)
            verify(s"games after update $k", got.getLong(2), games)
            verify(s"quantity after update $k", got.getDouble(3), qty)
          },
          check = r => if (k == deliveries.size - 1)
            verify("final rows against delivered source rows",
              contentSum(store.read.select(columns.map(col): _*)), contentSum(keyed(live(k))))))
    }
    val (allRows, allQty, _) = expected(live.last)
    val upsert = Op("upsert",
      run = r => r.span("Store.upsert")(store.upsert(updates, Keys)),
      after = liveFiles,
      check = r => {
        val got = store.read.agg(count(lit(1)), sum("l_quantity"),
          count(when(col("l_quantity") >= Marker, 1))).head()
        verify("rows after upsert", got.getLong(0), allRows)
        verify("quantity after upsert", got.getDouble(1), allQty + Marker * upsertedRows)
        verify("rows replaced by upsert", got.getLong(2), upsertedRows)
        beforeCompact = contentSum(store.read.select(columns.map(col): _*))
        // space amplification at the pass's most fragmented point: bytes
        // on disk against the same live rows written once, one file per
        // season
        val once = s"${run.dir}/etl_once"
        store.read.repartition(col("season")).write.mode("overwrite")
          .partitionBy("season").parquet(once)
        val onceBytes = Run.dataFiles(once)._2.toDouble
        r.facts("Store.live_bytes_once") = onceBytes
        r.facts("Store.space_amp") = Run.dataFiles(store.path)._2 / onceBytes
      })
    val compact = Op("compact",
      run = r => r.span("Store.compact")(store.compact(1)),
      after = liveFiles,
      check = _ => verify("row multiset across compaction",
        contentSum(store.read.select(columns.map(col): _*)), beforeCompact))

    val pass = (rebuild +: perBatch) ++ Seq(upsert, compact)
    _ => pass
  }
}

object EtlWorkload {
  private final case class Order(key: Long, season: Int, rows: Long, qty: Double)
}
