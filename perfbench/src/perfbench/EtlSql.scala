package perfbench

import graft.gen.OrderGen
import graft.sources.{GenCommit, GenTable}
import graft.streaming.IncrementalPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.math.{BigDecimal => JBig, MathContext, RoundingMode}
import java.sql.{Date, Timestamp}
import scala.collection.mutable

/** `etl_sql`: the reference's hourly dataflow landing in a SQL lake table.
  *
  * The pipeline (`IncrementalPipeline`) starts from a seeded history of
  * already-processed hours: source, target and ledger parquet. The lake
  * table `orders_eur` is a GenTable partitioned by order day, built with
  * CREATE TABLE … AS over a seeded 30-day history. Each step is one round
  * of every write kind, each followed by a read op:
  *  - an hour: the generator appends one hour of arrivals (untimed), then
  *    two write ops: `runBatch` (plus `compactLedger` on the steps that
  *    [[Workload.compacts]] picks) and an INSERT INTO that lands the hour's
  *    converted batch in the lake;
  *    then a point SELECT by order_id;
  *  - MERGE INTO (late corrections, replays and new rows), then a few-day
  *    range aggregate;
  *  - UPDATE (a rate fix for one currency and day), then the pipeline's
  *    consumer query over `targetView`;
  *  - DELETE FROM (a takedown by customer_email), then a point SELECT;
  *  - OPTIMIZE … IF NEEDED.
  *
  * A serial model of every statement — rows and conversions recomputed
  * with java.math — checks each SQL read and the final table; the
  * pipeline's outputs are checked for exactly-once delivery.
  */
final class EtlSql(ctx: Ctx) extends Workload {
  import EtlSql._
  import ctx.spark

  private val Appends = 6          // generator runs per hour
  private val AppendRows = 5000    // rows per generator run
  private val HistoryHours = 8
  private val MaxBatch = 30000
  private val CompactEvery = 2     // timed steps
  private val Days = 30
  private val RowsPerDay = 1000
  private val MergeRows = 300      // a third each: corrections, replays, new
  private val RangeDays = 3
  private val Table = "orders_eur"
  private val Base = java.time.LocalDate.of(2026, 1, 1)
  private val BaseMs = Date.valueOf(Base).getTime

  /** Seeded EUR-per-unit rates at 4 dp; one currency (XXX) has none. */
  private val rates: Map[String, JBig] = {
    val r = ctx.seeds.rng("rates")
    graft.Dims.nationCodes.filter(_ != "XXX").map { c =>
      c -> (if (c == "EUR") JBig.ONE else JBig.valueOf(5000 + r.nextInt(2000000), 4))
    }.toMap
  }
  private lazy val ratesDf = spark.createDataFrame(spark.sparkContext.parallelize(
      rates.toSeq.map { case (c, r) => Row(c, r.doubleValue) }, 1),
    StructType(Seq(StructField("currency", StringType), StructField("rate", DoubleType))))

  private var root = ""
  private def source = s"$root/source"
  private def target = s"$root/target"
  private def ledger = s"$root/ledger"
  private def history = s"$root/history"
  private def dir = s"$root/orders_eur"
  // Statements name the catalog table; SELECTs read the same table by
  // path. A SELECT through the catalog name keeps serving the snapshot its
  // first read cached and misses every later DML (an engine defect), so the
  // reads use the path form, which resolves the current generations.
  private def pathRef = s"gentable.`$dir`"

  private var hours = 0
  private var arrived = 0L
  private var model = mutable.LinkedHashMap.empty[String, Order]
  private val keys = mutable.ArrayBuffer.empty[String]
  private var optimizeCalls = 0
  private var optimizeRan = 0
  private var maxGenerations = 0
  private var maxLedgerFiles = 0

  private def day(d: Int) = Date.valueOf(Base.minusDays(d.toLong))
  private def hourTs(h: Int) = new Timestamp(BaseMs + h * 3600000L)

  /** The reference conversion: EUR passes through, a missing rate is 1.0,
    * otherwise amount / Decimal(str(rate)) rounded HALF_EVEN to 2 dp. */
  private def toEur(amount: JBig, cur: String): JBig =
    if (cur == "EUR") amount
    else amount.divide(rates.getOrElse(cur, JBig.ONE), MathContext.DECIMAL128)
      .setScale(2, RoundingMode.HALF_EVEN)

  private def rateOf(cur: String): JBig = rates.getOrElse(cur, JBig.ONE).setScale(6)

  private def order(id: String, email: String, at: Timestamp, amount: JBig, cur: String,
      processed: Timestamp): Order =
    Order(id, email, at, amount, cur, toEur(amount, cur), rateOf(cur), processed, processed,
      Date.valueOf(at.toLocalDateTime.toLocalDate))

  private def newOrder(r: scala.util.Random, d: Date): Order = {
    val cur = graft.Dims.nationCodes(r.nextInt(graft.Dims.nationCodes.size))
    val id = f"${r.nextLong()}%016x"
    val email = s"${('a' + r.nextInt(26)).toChar}${100 + r.nextInt(9900)}@example.com"
    order(id, email,
      new Timestamp(d.getTime + r.nextInt(86400) * 1000L), JBig.valueOf(1000 + r.nextInt(99001), 2),
      cur, new Timestamp(d.getTime + 86400000L))
  }

  private def toDf(rows: Seq[Order]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(_.row), 1 + rows.size / 4000), Schema)

  private def put(o: Order): Unit = {
    if (!model.contains(o.orderId)) keys += o.orderId
    model(o.orderId) = o
  }

  private def liveKey(r: scala.util.Random): String = {
    var k = keys(r.nextInt(keys.size))
    while (!model.contains(k)) k = keys(r.nextInt(keys.size))
    k
  }

  def generate(dir: String): Unit = {
    root = dir
    model = mutable.LinkedHashMap.empty
    keys.clear()
    val r = ctx.seeds.rng("history")
    for (d <- 0 until Days; _ <- 0 until RowsPerDay) put(newOrder(r, day(d)))
    toDf(model.values.toSeq).write.parquet(history)
    hours = HistoryHours
    arrived = HistoryHours.toLong * Appends * AppendRows
    OrderGen.orders(spark, arrived, seed = ctx.seeds.long("source"),
        baseTs = hourTs(-1).toString)
      .write.parquet(source)
  }

  def build(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table USING gentable OPTIONS (path '$dir', " +
      s"partCol 'order_day') AS SELECT * FROM parquet.`$history`")
    // the pipeline's history: every source order already converted and ledgered
    val hist = spark.read.parquet(source)
    val ts = hourTs(HistoryHours - 1)
    IncrementalPipeline.convertBatch(hist, ratesDf, ts).write.parquet(target)
    hist.select(col("order_id"), lit(ts).as("processed_at")).write.parquet(ledger)
  }

  private def sql(span: String, text: String): Array[Row] =
    ctx.span(span)(spark.sql(text).collect())

  /** A write statement, prepared untimed: its SQL, the input rows it
    * commits, and its effect on the serial model. */
  private final case class Stmt(span: String, text: String, rows: Long, apply: () => Unit)

  private def stmt(st: Stmt): Unit = {
    ctx.write(st.span) { sql(st.span, st.text); st.rows }
    st.apply()
  }

  /** One hour through the pipeline, then into the lake. */
  private def hour(i: Int): Unit = {
    val h = hours
    val ts = hourTs(h)
    val arrivals = OrderGen.orders(spark, Appends * AppendRows,
      seed = ctx.seeds.long("arrivals", h), baseTs = ts.toString)
    // one generator call per hour, landing as one file per generator run
    ctx.span("bench.arrivals")(arrivals.repartition(Appends).write.mode("append").parquet(source))
    hours += 1
    val expect = (Appends * AppendRows).toLong
    arrived += expect
    if (ctx.tracer.enabled && ctx.recording)
      maxLedgerFiles = math.max(maxLedgerFiles, Files.parquetFiles(ledger))
    ctx.write("runBatch") {
      val r = ctx.span("IncrementalPipeline.runBatch") {
        IncrementalPipeline.runBatch(spark, source, target, ledger, ratesDf, ts, MaxBatch)
      }
      if (compacts(i, CompactEvery))
        ctx.span("IncrementalPipeline.compactLedger")(
          IncrementalPipeline.compactLedger(spark, ledger))
      require(r.picked == expect, s"picked ${r.picked} of $expect arrivals")
      r.appended
    }
    val batch = ctx.span("bench.arrivals") {
      arrivals.select("order_id", "customer_email", "order_date", "amount", "currency").collect()
    }.map(x => order(x.getString(0), x.getString(1), x.getTimestamp(2), x.getDecimal(3),
      x.getString(4), ts))
    stmt(Stmt("sql.insert_into",
      s"""INSERT INTO $Table BY NAME SELECT order_id, customer_email, order_date,
         |original_amount, original_currency, amount_eur, exchange_rate, exchange_rate_date,
         |processed_at, CAST(order_date AS DATE) AS order_day FROM parquet.`$target`
         |WHERE processed_at = TIMESTAMP'$ts'""".stripMargin,
      batch.length.toLong, () => batch.foreach(put)))
  }

  private def mergeInto(r: scala.util.Random): Stmt = {
    val third = MergeRows / 3
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < 2 * third) picked += liveKey(r)
    val (fix, replay) = picked.toSeq.splitAt(third)
    val corrections = fix.map { k =>
      val o = model(k)
      val amount = o.amount.add(JBig.valueOf(1 + r.nextInt(500), 2))
      o.copy(amount = amount, amountEur = toEur(amount, o.currency))
    }
    val fresh = Seq.fill(MergeRows - 2 * third)(newOrder(r, day(r.nextInt(Days))))
    val src = corrections ++ replay.map(model) ++ fresh
    toDf(src).createOrReplaceTempView("merge_src")
    Stmt("sql.merge_into",
      s"""MERGE INTO $Table t USING merge_src s ON t.order_id = s.order_id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      src.size.toLong, () => src.foreach(put))
  }

  private def update(r: scala.util.Random): Stmt = {
    val cur = Seq("USD", "GBP", "JPY", "CNY", "INR", "BRL", "CAD", "CHF", "AUD",
      "SEK")(r.nextInt(10))
    val d = day(r.nextInt(Days))
    val rate = JBig.valueOf(5000 + r.nextInt(2000000), 4).setScale(6)
    val factor = JBig.valueOf(90 + r.nextInt(20), 2)
    val hit = model.values.filter(o => o.currency == cur && o.day == d).toSeq
    Stmt("sql.update",
      s"""UPDATE $Table SET exchange_rate = CAST('$rate' AS DECIMAL(16,6)),
         |amount_eur = CAST(original_amount * CAST('$factor' AS DECIMAL(4,2)) AS DECIMAL(12,2))
         |WHERE original_currency = '$cur' AND order_day = DATE'$d'""".stripMargin,
      hit.size.toLong, () => hit.foreach(o => put(o.copy(rate = rate,
        amountEur = o.amount.multiply(factor).setScale(2, RoundingMode.HALF_UP)))))
  }

  private def deleteFrom(r: scala.util.Random): Stmt = {
    val email = model(liveKey(r)).email
    val gone = model.values.filter(_.email == email).map(_.orderId).toSeq
    Stmt("sql.delete_from", s"DELETE FROM $Table WHERE customer_email = '$email'",
      gone.size.toLong, () => gone.foreach(model.remove))
  }

  private def optimize(): Unit = {
    if (ctx.tracer.enabled && ctx.recording) maxGenerations = math.max(maxGenerations,
      ctx.span("bench.generations")(GenCommit.committed(spark, dir).size))
    var ran = false
    ctx.write("optimize") {
      ran = sql("sql.optimize", s"OPTIMIZE $Table IF NEEDED").head.getBoolean(0)
      0L
    }
    if (ctx.recording) {
      optimizeCalls += 1
      if (ran) optimizeRan += 1
    }
  }

  private def pointRead(r: scala.util.Random): Unit = {
    // a live key most of the time, a deleted or unknown one otherwise
    val k = if (r.nextInt(4) > 0) liveKey(r) else f"${r.nextLong()}%016x"
    ctx.read("select_point") {
      sql("sql.select_point", s"SELECT $Cols FROM $pathRef WHERE order_id = '$k'")
    } { rows =>
      val want = model.get(k).map(_.row).toSeq
      if (rows.map(canonical).toSeq == want.map(canonical)) None
      else Some(s"order $k: got ${rows.length} rows, want ${want.size}")
    }
  }

  private def rangeRead(r: scala.util.Random): Unit = {
    val d = r.nextInt(Days - RangeDays)
    val (lo, hi) = (day(d + RangeDays - 1), day(d))
    ctx.read("select_range") {
      sql("sql.select_range",
        s"""SELECT original_currency, count(*) AS n, sum(amount_eur) AS s FROM $pathRef
           |WHERE order_day BETWEEN DATE'$lo' AND DATE'$hi'
           |GROUP BY original_currency""".stripMargin)
    } { rows =>
      val got = rows.map(x => (x.getString(0), (x.getLong(1), x.getDecimal(2)))).toMap
      val want = model.values.filter(o => !o.day.before(lo) && !o.day.after(hi))
        .groupBy(_.currency).map { case (c, os) =>
          c -> (os.size.toLong, os.map(_.amountEur).reduce(_ add _)) }
      val same = got.keySet == want.keySet && got.forall { case (c, (n, s)) =>
        want(c)._1 == n && want(c)._2.compareTo(s) == 0 }
      if (same) None else Some(s"range $lo..$hi aggregate differs from the model")
    }
  }

  private def revenueRead(): Unit =
    ctx.read("targetView") {
      ctx.span("IncrementalPipeline.targetView") {
        IncrementalPipeline.targetView(spark, target)
          .groupBy("original_currency")
          .agg(sum("amount_eur").as("revenue"), count(lit(1)).as("n"))
          .collect()
      }
    } { rows =>
      val n = rows.map(_.getLong(2)).sum
      if (n == arrived) None else Some(s"revenue covers $n of $arrived orders")
    }

  /** One round: every write kind once, each followed by a read. */
  def step(i: Int): Unit = {
    val r = ctx.seeds.rng("round", i)
    // the metadata path alone: resolve the table's current view, run nothing
    ctx.span("GenTable.read")(GenTable.read(spark, dir, "order_day"))
    hour(i)
    pointRead(r)
    stmt(mergeInto(r))
    rangeRead(r)
    stmt(update(r))
    revenueRead()
    stmt(deleteFrom(r))
    pointRead(r)
    optimize()
  }

  def check(): Unit = {
    ctx.check("lake table equals the serial model") {
      val rows = spark.sql(s"SELECT $Cols FROM $pathRef").collect()
      val got = checksum(rows.iterator.map(canonical))
      val want = checksum(model.valuesIterator.map(o => canonical(o.row)))
      if (rows.length == model.size && got == want) None
      else Some(s"${rows.length} rows (model ${model.size}), checksum $got vs $want")
    }
    val src = spark.read.parquet(source).select("order_id", "amount", "currency").collect()
      .map(r => r.getString(0) -> (r.getDecimal(1), r.getString(2))).toMap
    val view = IncrementalPipeline.targetView(spark, target)
      .select("order_id", "original_amount", "original_currency", "amount_eur", "exchange_rate")
      .collect()
    val led = spark.read.parquet(ledger).select("order_id").collect().map(_.getString(0))
    ctx.check("source holds every arrival") {
      if (src.size == arrived) None else Some(s"${src.size} distinct orders, $arrived arrived")
    }
    def once(what: String, ids: Seq[String]): Unit = ctx.check(s"each order once in $what") {
      val distinct = ids.toSet
      if (ids.size == arrived && distinct.size == arrived && distinct.forall(src.contains)) None
      else Some(s"${ids.size} rows, ${distinct.size} distinct, $arrived arrived")
    }
    once("targetView", view.map(_.getString(0)).toSeq)
    once("the ledger", led.toSeq)
    ctx.check("targetView conversions match the recomputation") {
      val bad = view.count { x =>
        src.get(x.getString(0)).forall { case (amount, cur) =>
          x.getDecimal(1).compareTo(amount) != 0 || x.getString(2) != cur ||
            x.getDecimal(3).compareTo(toEur(amount, cur)) != 0 ||
            x.getDecimal(4).compareTo(rateOf(cur)) != 0
        }
      }
      if (bad == 0) None else Some(s"$bad of ${view.length} rows differ")
    }
    ctx.extras("ledger.files_at_pickup") = (maxLedgerFiles.toDouble, "count")
    ctx.extras("target.files") = (Files.parquetFiles(target).toDouble, "count")
    if (optimizeCalls > 0)
      ctx.extras("sql.optimize.ran_frac") = (optimizeRan.toDouble / optimizeCalls, "ratio")
    ctx.extras("gentable.generations") = (maxGenerations.toDouble, "count")
  }

  def dataDirs: Seq[String] = Seq(source, target, ledger, dir)
  def liveRows: Long = arrived + model.size
  def sizes: Seq[(String, String)] = Seq(
    "pipeline_history_hours" -> HistoryHours.toString,
    "pipeline_history_rows" -> (HistoryHours * Appends * AppendRows).toString,
    "rows_per_hour" -> (Appends * AppendRows).toString, "max_batch" -> MaxBatch.toString,
    "ledger_compact_every_steps" -> CompactEvery.toString,
    "table_days" -> Days.toString, "table_history_rows" -> (Days * RowsPerDay).toString,
    "table_partitions" -> Days.toString, "merge_rows" -> MergeRows.toString,
    "optimize_every_rounds" -> "1")
  def layers: Seq[(String, Seq[String])] =
    Seq("IncrementalPipeline.runBatch", "IncrementalPipeline.compactLedger",
      "IncrementalPipeline.targetView", "sql.merge_into", "sql.insert_into", "sql.update",
      "sql.delete_from", "sql.optimize", "sql.select_point", "sql.select_range")
      .map(_ -> Main.SetA) :+ ("GenTable.read" -> Main.SetB)
}

object EtlSql {
  final case class Order(orderId: String, email: String, orderDate: Timestamp,
      amount: JBig, currency: String, amountEur: JBig, rate: JBig,
      rateDate: Timestamp, processedAt: Timestamp, day: Date) {
    def row: Row = Row(orderId, email, orderDate, amount, currency, amountEur, rate,
      rateDate, processedAt, day)
  }

  val Schema: StructType = StructType(Seq(
    StructField("order_id", StringType), StructField("customer_email", StringType),
    StructField("order_date", TimestampType),
    StructField("original_amount", DecimalType(12, 2)),
    StructField("original_currency", StringType),
    StructField("amount_eur", DecimalType(12, 2)),
    StructField("exchange_rate", DecimalType(16, 6)),
    StructField("exchange_rate_date", TimestampType),
    StructField("processed_at", TimestampType),
    StructField("order_day", DateType)))
  val Cols: String = Schema.fieldNames.mkString(", ")

  /** A row's identity as text, columns in [[Schema]] order. */
  def canonical(r: Row): String = r.toSeq.map {
    case d: JBig => d.stripTrailingZeros().toPlainString
    case t: Timestamp => t.getTime.toString
    case v => String.valueOf(v)
  }.mkString("|")

  /** Sum of 64-bit row hashes: equal for equal multisets in any order. */
  def checksum(rows: Iterator[String]): Long =
    rows.foldLeft(0L)((acc, s) => acc + scala.util.hashing.MurmurHash3.stringHash(s).toLong *
      0x9E3779B97F4A7C15L + s.length)
}
