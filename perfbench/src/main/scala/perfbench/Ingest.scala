package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{FpDoc, FpUpdate}

/** The arrivals workload: writer-fleet files land in a directory, the
  * `arrivals` source (default options) offers them, `streamingDedup`
  * elects one canonical delivery per record, and a `foreachBatch` sink
  * receives the per-batch updates.
  *
  * A drain phase drains a pre-written backlog of [[BacklogFiles]] files
  * in a fresh directory and checkpoint. Each directory also holds
  * [[HistoryFiles]] files already committed (renamed) by earlier
  * batches, which every listing walks. A drain's wall time, `pass_s`,
  * runs from the stream's start until the last batch's files are
  * renamed. A paced phase starts the stream on an empty directory and,
  * once its first trigger is done, one generator thread writes files on
  * an open-loop schedule of [[RatePerS]] files/s, the due time in each
  * name; a delivery's latency runs from its due time to the sink batch
  * that counts it. The timed part runs half the drains, a paced phase,
  * the other drains and a second paced phase.
  *
  * The seed draws names, contents and the retry pattern: a delivery
  * retries the previous delivery's record with probability 1/10 (as in
  * `ArrivalsPipelineDemo`), or the record [[LateRetryBack]] deliveries
  * back with probability 1/20, which usually lies in an earlier batch, so
  * the dedup verdict depends on the state store. */
object Ingest {
  val BacklogFiles = 2000
  /** Committed files left in a drain's directory by earlier batches. */
  val HistoryFiles = 4000
  val RatePerS = 250.0
  val LateRetryBack = 300
  /** A generator later than this at its p99 makes the run invalid. */
  val MaxLateMs = 50.0
  /** Untimed warm-up drains before the 1 s paced warm-up; a fixed count
    * for the same reason as `sql_tier`'s warm-up passes. */
  private val WarmupDrains = 2
  /** Seconds of one timed drain, with the untimed writing before it, on a
    * 4-CPU box. Half of `--seconds` buys round(seconds / 2 / NominalDrainS)
    * drains, at least 3; a count, as for `sql_tier`'s passes. */
  private val NominalDrainS = 3.3

  final case class Delivery(seq: Long, record: Long, dueMs: Long, name: String, body: String) {
    def fp: String = f"$record%09d"
  }

  /** The seeded delivery schedule of one phase. */
  def deliveries(seed: Long, phase: Int, n: Int, ratePerS: Double): IndexedSeq[Delivery] = {
    val rnd = new scala.util.Random(seed * 1000003L + phase)
    val words = Array("doc", "alpha", "beta", "gamma", "delta", "shard", "page", "token")
    val records = new Array[Long](n)
    (0 until n).map { i =>
      val u = rnd.nextInt(20)
      records(i) =
        if (i > 0 && u < 2) records(i - 1)
        else if (i >= LateRetryBack && u == 2) records(i - LateRetryBack)
        else phase * 10000000L + i
      val record = records(i)
      val due = if (ratePerS > 0) math.round(i * 1000.0 / ratePerS) else 0L
      val name = f"$i%09d_w${rnd.nextInt(32)}%02d_r$record%09d_d$due%08d.txt"
      val body = Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
      Delivery(i.toLong, record, due, name, body)
    }
  }

  /** Collects every sink batch with the time it arrived. */
  final class Sink {
    val rows = new ConcurrentLinkedQueue[(Long, FpUpdate)]()
    @volatile var docs = 0L
    val fn: (Dataset[FpUpdate], Long) => Unit = (ds, _) => {
      val got = ds.collect()
      val t = System.nanoTime()
      got.foreach(r => rows.add((t, r)))
      docs += got.map(_.batch_docs).sum
    }
  }

  final case class Phase(n: Int, wallS: Double, cpuS: Double, latMs: Seq[Double],
      lateMs: Seq[Double], traced: Boolean, span: Long, failed: Long, liveMb: Double,
      stealPct: Double)

  def run(spark: SparkSession, cfg: Config, res: Result): Unit = {
    import spark.implicits._
    val tr = new Tracer(spark)
    val root = new File(s"${cfg.work}/arrivals")
    var phases = 0

    def write(dir: File, d: Delivery): Unit = {
      // written under a dot name the source ignores, then renamed into place
      val tmp = Paths.get(dir.getPath, "." + d.name)
      Files.write(tmp, d.body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir.getPath, d.name), StandardCopyOption.ATOMIC_MOVE)
    }

    def startQuery(dir: File, ckpt: File, sink: Sink): StreamingQuery = {
      val rows = spark.readStream.format("arrivals").option("path", dir.getPath).load()
        .select(
          regexp_extract(col("file_name"), "_r(\\d+)_", 1).as("fp"),
          regexp_extract(col("file_name"), "^(\\d+)_", 1).cast("long").as("id"),
          unix_millis(col("last_modified")).as("tsMs"))
        .as[FpDoc]
      StatefulOps.streamingDedup(rows).writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch(sink.fn)
        .start()
    }

    /** One phase on a fresh directory and checkpoint. A backlog phase
      * (`rate` 0) writes every file first; a paced phase writes them on
      * schedule while the stream runs. */
    def phase(kind: String, n: Int, rate: Double, traced: Boolean, timed: Boolean): Phase = {
      val idx = phases
      phases += 1
      val ds = deliveries(cfg.seed, idx, n, rate)
      val dir = new File(root, s"$idx-$kind/in")
      val ckpt = new File(root, s"$idx-$kind/ckpt")
      dir.mkdirs()
      val w0 = System.nanoTime()
      val history = if (rate <= 0) HistoryFiles else 0
      // committed history as hard links to one file, and the backlog
      // written in place (no stream runs yet): far quicker than the
      // writer-fleet protocol of `write`, so more drains fit a run
      def done(i: Int) = Paths.get(dir.getPath, f"h$i%09d.txt.COMPLETED")
      if (history > 0) {
        val first = Files.write(done(0), Array[Byte](104))
        (1 until history).foreach(i => Files.createLink(done(i), first))
      }
      if (rate <= 0) ds.foreach(d => Files.write(Paths.get(dir.getPath, d.name),
        d.body.getBytes(StandardCharsets.UTF_8)))
      // write back the files just written, and what earlier phases left
      // dirty, before the clock starts rather than during the phase
      val f0 = System.nanoTime()
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      val flushS = (System.nanoTime() - f0) / 1e9
      if (traced) tr.start() else tr.stop()
      val sink = new Sink
      val late = mutable.ArrayBuffer.empty[Double]
      var g0 = 0L
      var span = 0L
      var renameFailures = 0.0
      var wall, cpu, live, steal = 0.0
      val s0 = Steal.sample()
      val c0 = Main.cpuS()
      val t0 = System.nanoTime()
      tr.span(kind, s"$kind $idx") {
        span = tr.current
        val q = startQuery(dir, ckpt, sink)
        tr.links.put(s"query ${q.id}", span)
        try {
          if (rate > 0) {
            // the generator starts once the stream is up (its first,
            // empty trigger has reported), so latency leaves out start-up
            val up = System.nanoTime() + 30L * 1000000000L
            while (q.recentProgress.isEmpty && System.nanoTime() < up) Thread.sleep(5)
            g0 = System.nanoTime()
            val gen = new Thread(() => ds.foreach { d =>
              val due = g0 + d.dueMs * 1000000L
              var now = System.nanoTime()
              while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
              write(dir, d)
              late += (System.nanoTime() - due) / 1e6
            }, "perfbench-generator")
            gen.start()
            gen.join()
          }
          val deadline = System.nanoTime() + 120L * 1000000000L
          while (sink.docs < n && System.nanoTime() < deadline) Thread.sleep(1)
          // returns after a trigger that found no new data; its latestOffset
          // renamed the last batch's files first
          q.processAllAvailable()
          wall = (System.nanoTime() - t0) / 1e9
          cpu = Main.cpuS() - c0
          steal = Steal.pct(s0, Steal.sample())
          live = Main.liveMb()
        } finally {
          q.stop()
          renameFailures = q.recentProgress.flatMap(_.sources.headOption)
            .flatMap(s => Option(s.metrics).flatMap(m => Option(m.get("renameFailures"))))
            .map(_.toDouble).foldLeft(0.0)(math.max)
        }
      }
      tr.stop()

      // --- output checks ---
      val rows = sink.rows.asScala.toSeq
      val docs = rows.map(_._2.batch_docs).sum
      if (docs != n) res.problem(s"$kind $idx: sum of batch_docs $docs != $n deliveries")
      val completed = dir.listFiles().count(_.getName.endsWith(".COMPLETED")) - history
      if (completed != n) res.problem(s"$kind $idx: $completed .COMPLETED files on disk != $n")
      if (renameFailures != 0) res.problem(s"$kind $idx: renameFailures $renameFailures")
      val byFp = ds.groupBy(_.fp)
      // the batch keep-min election: every update of a record names its
      // first delivery as canonical, only the record's first update is
      // new, and the running total carries from update to update (each
      // update's total_docs - batch_docs is the previous one's total_docs)
      val updates = rows.map(_._2).groupBy(_.fp)
      val wrong = byFp.map { case (fp, dl) =>
        val first = dl.map(_.seq).min
        val totals = updates.getOrElse(fp, Nil).sortBy(_.total_docs).foldLeft(0L) { (prev, u) =>
          val ok = u.canonical_id == first && u.is_new == (prev == 0L) &&
            u.total_docs - u.batch_docs == prev
          if (ok && prev >= 0) u.total_docs else -1L
        }
        if (totals == dl.size.toLong) 0L else dl.size.toLong
      }.sum + updates.collect { case (fp, us) if !byFp.contains(fp) => us.map(_.batch_docs).sum }.sum
      if (wrong > 0) res.problem(s"$kind $idx: $wrong deliveries not elected exactly once")

      // --- per-delivery latency: due time -> the sink batch counting it ---
      val lat =
        if (rate <= 0) Nil
        else rows.flatMap { case (t, u) =>
          val dl = byFp.getOrElse(u.fp, IndexedSeq.empty)
          (u.total_docs - u.batch_docs until math.min(u.total_docs, dl.size.toLong)).map { k =>
            (t - (g0 + dl(k.toInt).dueMs * 1000000L)) / 1e6
          }
        }
      if (timed) System.err.println(f"[perfbench] $kind $idx${if (traced) " traced" else ""}" +
        f" $n files $wall%.3f s cpu $cpu%.2f s steal $steal%.1f%%" +
        f" (untimed: write ${(f0 - w0) / 1e9}%.2f s, sync $flushS%.2f s)")
      Phase(n, wall, cpu, lat, late.toSeq, traced, span, wrong + math.abs(n - completed), live,
        steal)
    }

    // --- set-up: untimed backlog drains, then a 1 s paced phase ---
    val warm = (1 to WarmupDrains).map(_ => phase("drain", BacklogFiles, 0, traced = false,
      timed = false).wallS)
    phase("paced", RatePerS.toInt, RatePerS, traced = false, timed = false)
    res.ready()

    // --- timed: backlog drains for about half the time (at least 3) and
    // the paced phase for the other half, each in two halves (drains,
    // paced, drains, paced) so both metrics sample the whole window; a
    // traced run orders its drains untraced, traced, traced, untraced ---
    val drains = mutable.ArrayBuffer.empty[Phase]
    val paced = mutable.ArrayBuffer.empty[Phase]
    val top = tr.open("workload", cfg.workload)
    val timedDrains = Seq(math.round(cfg.seconds / 2 / NominalDrainS).toInt, 3,
      if (cfg.trace) 4 else 0).max
    def clean = drains.filter(d => !d.traced && d.stealPct <= Steal.MaxPct)
    for (half <- 1 to 2) {
      while (drains.size < timedDrains * half / 2) {
        val traced = cfg.trace && (drains.size % 4 == 1 || drains.size % 4 == 2)
        drains += phase("drain", BacklogFiles, 0, traced, timed = true)
      }
      paced += phase("paced", (RatePerS * cfg.seconds / 4).toInt, RatePerS, cfg.trace,
        timed = true)
    }
    tr.close(top)
    val latMs = paced.flatMap(_.latMs).toSeq
    val lateMs = paced.flatMap(_.lateMs).toSeq

    // the medians come from drains without CPU steal when there are three
    val plain = if (clean.size >= 3) clean.toSeq else drains.filterNot(_.traced).toSeq
    val all = drains.toSeq ++ paced
    res.attempted = all.map(_.n.toLong).sum
    res.failed = all.map(_.failed).sum
    res.metric("pass_s", Stats.median(plain.map(_.wallS)))
    res.metric("cpu_s", Stats.median(plain.map(_.cpuS)))
    res.metric("latency_ms", Stats.quantile(latMs, 0.5))
    res.metric("peak_live_mb", (plain ++ paced).map(_.liveMb).max)
    res.details("ingest_p90_ms") = Json.num(Stats.quantile(latMs, 0.9))
    val lateP99 = Stats.quantile(lateMs, 0.99)
    res.details("drain_files_per_s") = Json.num(BacklogFiles / Stats.median(plain.map(_.wallS)))
    res.details("drains") = plain.size.toString
    res.details("steal_pct_all") = Json.nums(drains.map(_.stealPct))
    res.details("paced_steal_pct") = Json.nums(paced.map(_.stealPct))
    res.details("warmup_drains") = warm.size.toString
    res.details("warmup_s_all") = Json.nums(warm)
    res.details("drain_s_all") = Json.nums(plain.map(_.wallS))
    res.details("ingest_p99_ms") = Json.num(Stats.quantile(latMs, 0.99))
    res.details("latency_samples") = latMs.size.toString
    res.details("rate_files_per_s") = Json.num(RatePerS)
    res.details("gen_late_p99_ms") = Json.num(lateP99)
    res.details("valid") = (lateP99 <= MaxLateMs).toString
    if (lateP99 > MaxLateMs)
      System.err.println(f"[perfbench] INVALID: generator p99 $lateP99%.1f ms behind schedule")
    if (cfg.trace) Layers.ingest(cfg, res, tr, drains.toSeq, paced.toSeq)
  }
}
