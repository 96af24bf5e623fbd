package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch workload `sql_tier`: one closed-loop client running a fixed
  * list of relational, aggregate, window and SQL queries per pass, in an order
  * drawn from the seed. Each query is timed in three phases: construct
  * (`SparkEntry.queries(name)(spark, dir)`, which includes table
  * resolution and any eager jobs of iterative operators), plan
  * (`queryExecution.executedPlan`) and execute (materialising the result's
  * content hash, which reads every column). */
object Batch {
  /** A stratified sample of the q_sql_tpch_/q_join_/q_agg_/q_window_
    * families (50 queries): 7 picked pro rata to family size, spread
    * evenly over each family's queries sorted by time. Its construct/
    * plan/execute shares are within 5 points of the 50's at sf0.1
    * (README, "sql_tier query list"). */
  val queries: Seq[String] = Seq(
    "q_sql_tpch_q13", "q_sql_tpch_q7", "q_sql_tpch_q2", "q_join_semi", "q_join_asof_fwd",
    "q_agg_distinct", "q_window_sliding")

  /** Untimed warm-up passes. The first pays the session's one-time
    * initialisation and codegen. A fixed count, not a time cap, gives
    * every run the same JIT history however fast the host is during
    * set-up. Timed passes still get a little faster (README, "Measurement
    * choices"); a run times at least [[MinTimed]] of them. */
  private val Warmup = 2
  private val MinTimed = 3
  /** Seconds of one timed pass on a 4-CPU box. `--seconds` buys
    * round(seconds / NominalPassS) timed passes, at least [[MinTimed]]: a
    * count rather than a clock ends the window, so every run times the
    * same passes of the same JIT history, whatever the host's speed. */
  private val NominalPassS = 6.0

  /** Fixture tables resolved one by one in the traced run. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class Pin(rows: Long, hash: String)
  final case class Timing(name: String, constructS: Double, planS: Double, executeS: Double,
      ok: Boolean) {
    def totalS: Double = constructS + planS + executeS
  }
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, queries: Seq[Timing],
      span: Long, liveMb: Double, stealPct: Double)

  /** Row count and order-independent content hash over every column. */
  def hashFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum("h").as("s"))

  private def readHash(df: DataFrame): Pin = {
    val r = df.collect().head
    Pin(r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  def loadPins(path: String): Map[String, Pin] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Pin(rows.toLong, hash)
      }.toMap

  /** Run every query once and write its pin. */
  def writePins(spark: SparkSession, data: String, out: String): Unit = {
    val lines = queries.map { q =>
      val p = readHash(hashFrame(graft.SparkEntry.queries(q)(spark, data)))
      graft.Hygiene.dropLeakedBlocks(spark)
      System.err.println(s"[perfbench] pin $q ${p.rows} ${p.hash}")
      s"$q\t${p.rows}\t${p.hash}"
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** One query, timed in its three phases; `check` sees the result's pin
    * and says whether it is right. Any exception counts as wrong. */
  private def timeQuery(spark: SparkSession, data: String, q: String, tr: Tracer,
      check: Pin => Boolean, problem: String => Unit): Timing = {
    val secs = Array(0.0, 0.0, 0.0)
    def phase[T](i: Int, kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(kind, q)(body) finally secs(i) = (System.nanoTime() - t0) / 1e9
    }
    val ok =
      try {
        tr.span("query", q) {
          val hq = phase(0, "construct")(hashFrame(graft.SparkEntry.queries(q)(spark, data)))
          phase(1, "plan")(hq.queryExecution.executedPlan)
          check(phase(2, "execute")(readHash(hq)))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          problem(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    graft.Hygiene.dropLeakedBlocks(spark)
    Timing(q, secs(0), secs(1), secs(2), ok)
  }

  /** Per-query phase times, for choosing the query list: every query
    * whose name starts with one of `prefixes`, `passes` times (the first
    * pass untimed). Writes one TSV line per query: name and the median
    * construct, plan and execute seconds. */
  def probe(spark: SparkSession, data: String, prefixes: Seq[String], passes: Int,
      out: String): Unit = {
    val names = graft.SparkEntry.queries.keys.filter(q => prefixes.exists(q.startsWith))
      .toSeq.sorted
    val tr = new Tracer(spark)
    val runs = (0 until passes).map { i =>
      val t0 = System.nanoTime()
      val ts = names.map(timeQuery(spark, data, _, tr, _ => true, System.err.println))
      System.err.println(f"[perfbench] probe pass $i ${(System.nanoTime() - t0) / 1e9}%.1f s")
      ts
    }.drop(1)
    val lines = names.map { q =>
      val ts = runs.flatMap(_.filter(_.name == q))
      def med(f: Timing => Double) = Json.num(Stats.median(ts.map(f)))
      s"$q\t${med(_.constructS)}\t${med(_.planS)}\t${med(_.executeS)}"
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def run(spark: SparkSession, cfg: Config, res: Result): Unit = {
    val pins = loadPins(cfg.pins)
    val rnd = new scala.util.Random(cfg.seed)
    val tr = new Tracer(spark)

    def one(q: String): Timing =
      timeQuery(spark, cfg.data, q, tr, { got =>
        val want = pins.get(q)
        if (!want.contains(got)) res.problem(s"$q: got $got, pinned $want")
        want.contains(got)
      }, res.problem)

    def pass(i: Int, traced: Boolean): Pass = {
      val order = rnd.shuffle(queries)
      if (traced) tr.start() else tr.stop()
      var span = 0L
      val c0 = Main.cpuS()
      val s0 = Steal.sample()
      val t0 = System.nanoTime()
      val qs = tr.span("pass", s"pass $i") {
        span = tr.current
        order.map(one)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Main.cpuS() - c0
      val steal = Steal.pct(s0, Steal.sample())
      tr.stop()
      val live = Main.liveMb()
      val perQuery = qs.map(t => f"${t.name} ${t.constructS}%.2f/${t.planS}%.2f/${t.executeS}%.2f")
      System.err.println(f"[perfbench] ${cfg.workload} pass $i%d${if (traced) " traced" else ""}" +
        f" $wall%.3f s cpu $cpu%.2f s steal $steal%.1f%%; construct/plan/execute s: " +
        perQuery.mkString(", "))
      Pass(traced, wall, cpu, qs, span, live, steal)
    }

    // one direct call per fixture table, each its own span (traced runs)
    def resolveTables(): Unit = {
      tr.start()
      tr.span("tables", "resolve") {
        tables.foreach { t =>
          tr.span("table", t) {
            if (t == "events") graft.Tables.events(spark, cfg.data)
            else graft.Tables.table(spark, cfg.data, t)
          }
        }
      }
      tr.stop()
    }

    // --- set-up: untimed warm-up passes ---
    val warm = (1 to Warmup).map(i => pass(-i, traced = false).wallS)
    res.ready()

    // --- timed passes ---
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val root = tr.open("workload", cfg.workload)
    val timed = Seq(math.round(cfg.seconds / NominalPassS).toInt, MinTimed,
      if (cfg.trace) 4 else 0).max
    def clean = passes.filter(p => !p.traced && p.stealPct <= Steal.MaxPct)
    while (passes.size < timed) {
      // untraced, traced, traced, untraced, ...: JIT drift falls evenly on both
      val traced = cfg.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      passes += pass(passes.size, traced)
      if (traced) resolveTables()
    }
    tr.close(root)
    // the medians come from passes without CPU steal when there are two
    val plain = if (clean.size >= 2) clean.toSeq else passes.filterNot(_.traced).toSeq
    val lat = plain.flatMap(_.queries.map(_.totalS * 1000.0))
    res.attempted = passes.map(_.queries.size).sum.toLong
    res.failed = passes.map(_.queries.count(!_.ok)).sum.toLong
    res.metric("pass_s", Stats.median(plain.map(_.wallS)))
    res.metric("cpu_s", Stats.median(plain.map(_.cpuS)))
    // a typical query's latency: the geometric mean over the list of each
    // query's median. A median over the list would follow whichever query
    // ranks fourth; the mean of logs weighs every query alike.
    val perQuery = queries.map(q => Stats.median(plain.flatMap(_.queries.filter(_.name == q)
      .map(_.totalS * 1000.0))))
    res.metric("latency_ms", math.exp(perQuery.map(math.log).sum / perQuery.size))
    res.details("query_p50_ms") = Json.num(Stats.quantile(lat, 0.5))
    res.metric("peak_live_mb", plain.map(_.liveMb).max)
    res.details("query_p90_ms") = Json.num(Stats.quantile(lat, 0.9))
    res.details("passes") = plain.size.toString
    res.details("steal_pct_all") = Json.nums(passes.map(_.stealPct))
    res.details("latency_samples") = lat.size.toString
    res.details("pass_s_all") = Json.nums(plain.map(_.wallS))
    res.details("cpu_s_all") = Json.nums(plain.map(_.cpuS))
    res.details("warmup_passes") = warm.size.toString
    res.details("warmup_s_all") = Json.nums(warm)
    res.details("per_query_median_ms") = queries.zip(perQuery)
      .map { case (q, ms) => s""""$q":${Json.num(ms)}""" }.mkString("{", ",", "}")
    if (cfg.trace) Layers.batch(cfg, res, tr, passes.toSeq)
  }
}
