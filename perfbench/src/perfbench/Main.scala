package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command line: `--workload otp_live|otp_backlog --seed N --seconds S
  * --trace 0|1 --work DIR --digests FILE`. Prints one JSON result as the
  * last line of standard output; everything else goes to standard error. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  val Setups = 3
  val LoginsPerSecond = 200.0
  val PushesPerSecond = 10.0
  val TickMs = 1000L
  val TopicPartitions = 4
  val LiveRedeliverLagMs = 3000L
  val BacklogLogins = 20000
  val BacklogMaxPerTrigger = 2000L
  val BacklogRedeliverLagMs = 120000L
  val PreloadChunkMs = 5000L
  val WarmBacklogLogins = 4000
  // a fixed virtual epoch for the backlog, whole seconds (UTC 2026-01-01)
  val BacklogEpochMs = 1767225600000L

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"))
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    var spark = session(cores, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (a.trace) Some(new Trace(spark)) else None
    trace.foreach(_.attach())
    val run = a.workload match {
      case "otp_live" => new Run(spark, a, cores, trace).live()
      case "otp_backlog" => new Run(spark, a, cores, trace).backlog()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rssMb = peakRssMb()
    val m = new Metrics
    var (attempted, failed, correct) = (run.attempted, run.failed, run.correct)
    if (!a.trace) run.endToEnd(m, rssMb)
    else {
      val tr = trace.get
      // the batch board, on the same session once the chain has stopped
      val (bAttempted, bFailed) = Board.measure(spark, a.work, kv("digests"), tr, m,
        s => System.err.println(s"[perfbench] $s"))
      attempted += bAttempted; failed += bFailed; correct &&= bFailed == 0
      tr.detach()
      run.perLayer(m, tr, sessionS)
      // the single-threaded baseline: the same chain at local[1]
      spark.stop()
      spark = session(1, a.work)
      m("drain_logins_per_s.1core") = (new Run(spark, a, 1, None).baseline(), "1/s")
      m("trace.cpu_ms") = (tr.cpuMs, "ms")
      m("trace.spans") = (tr.spans.size.toDouble, "count")
      run.endToEnd(m, rssMb, prefix = "traced.")
      tr.write(s"${a.work}/trace/${a.workload}-seed${a.seed}.spans.jsonl")
    }
    spark.stop()
    println(s"""{"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":${m.json}}""")
    System.out.flush()
    // HTTP client and server threads must not keep the JVM alive
    sys.exit(0)
  }

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** One run of one workload: set-up repetitions, the measured phase, the
  * output checks and the metrics derived from them. */
final class Run(spark: SparkSession, a: Main.Args, cores: Int,
    trace: Option[Trace]) {
  import Main._

  private val endpoint = new SignalEndpoint(cores)
  private def nanos = System.nanoTime()
  private val born = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%6.1f s] $s")

  // measured phase
  private var chain: Chain = _
  private var logins = Vector.empty[Login]
  private var mails = Vector.empty[Mail]
  private var pushes = Vector.empty[Push]
  private var epochMs = 0L
  private var originNanos = 0L        // run time 0 on the nanoTime clock
  private var replay = false          // mails were all sent before origin
  private val ackMs = new ConcurrentLinkedQueue[Double]()
  private val nacks = new java.util.concurrent.atomic.AtomicInteger()
  private val produceMs = new ConcurrentLinkedQueue[Double]()
  private val lateMs = new ConcurrentLinkedQueue[Double]()
  private var setupS, preloadS, warmS = Seq.empty[Double]

  // check results
  var attempted = 0
  var failed = 0
  var correct = true
  private var drained = false       // every query consumed all its input
  private var failedSameSecond = 0
  private var failedOther = 0
  private var signals = Vector.empty[Signal]
  private var accepted, rejected, dropped = 0
  private var failedReordered = 0
  // where each login's first request and its OTP mail landed on the bus
  private val requestAt = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private val otpMailAt = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private var stealAtOrigin = Array.empty[Long]
  private var stealShare = 0.0

  private def sec(t0: Long) = (nanos - t0) / 1e9

  // ─── set-up ───

  /** Sends a handful of logins and pushes through a started chain and
    * waits for their signals: JIT, codegen and the state stores warm up. */
  private def warm(c: Chain, tag: String): Unit = {
    val now = System.currentTimeMillis()
    val ls = (0 until 20).map(i =>
      Login(s"zepto_w${tag}_$i", s"w${tag}_$i", 0, 0, f"$i%04d", -1))
    c.produceRequests(ls.map(_ -> now))
    val deadline = nanos + 120L * 1000000000L
    while (!c.correlateCaughtUp && nanos < deadline) Thread.sleep(10)
    // mails dated a second after the request, so none hits the
    // same-second ordering defect the measured phase exposes
    c.produceMails(ls.map(l => now -> Gen.rawMail(
      Mail(1000, 1000, l.key, l.otp, "otp"), now, 0)))
    val client = new PushClient(c.receiver.endpoint)
    (1 to 8).foreach { i =>
      val mbx = s"warm$tag@example.com"
      client.post(Push(0, -i, mbx, i, "valid", Gen.envelope(mbx, Some(i.toLong))).body)
    }
    client.close()
    while (endpoint.signals.count(_.key.startsWith(s"zepto_w${tag}_")) < ls.size &&
        nanos < deadline) Thread.sleep(10)
    require(c.drain(deadline), s"warm-up of ${c.dir} did not drain")
  }

  // ─── open-loop generator ───

  private def sleepUntil(t: Long): Unit = {
    val d = t - nanos
    if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
  }

  /** Sends every push on its schedule over one connection; ACK latency
    * counts from the scheduled time, so a stall delays later pushes. */
  private def pusher(c: Chain): Thread = new Thread(() => {
    var client = new PushClient(c.receiver.endpoint)
    pushes.foreach { p =>
      val due = originNanos + p.at * 1000000L
      sleepUntil(due)
      lateMs.add((nanos - due) / 1e6)
      val t0 = Trace.epochUs()
      val status = try client.post(p.body) catch {
        case _: java.io.IOException =>
          client.close(); client = new PushClient(c.receiver.endpoint); -1
      }
      if (status != 200) nacks.incrementAndGet()
      ackMs.add((nanos - due) / 1e6)
      trace.foreach(_.span("push", s"push/${p.seq}", "", t0, Trace.epochUs(), s"kind=${p.kind}"))
    }
  }, "perfbench-pusher")

  /** Appends the requests and mails of each whole second at the end of
    * that second, one produce call per topic, as a batching publisher
    * does. Mails go first: a mail dated in its request's second is then
    * on the bus whenever its request is, so the correlation reads it in
    * the same micro-batch as the request or an earlier one, and the known
    * defect drops it either way. Which logins fail thus follows from the
    * seed alone. Requests first would leave it to whether a batch starts
    * between the two appends, and the failure count would change from run
    * to run. A mail of a later second is appended a tick after its
    * request, so it can never be read first. */
  private def busProducer(c: Chain, raws: Map[Mail, String]): Thread = new Thread(() => {
    val reqs = logins.flatMap(l => Seq((l.reqAt, l, l.reqAt)) ++
      (if (l.redelivered) Seq((l.redeliverAt, l, l.redeliverAt)) else Nil)).sortBy(_._1)
    var ri = 0; var mi = 0; var tick = 1L
    while (ri < reqs.size || mi < mails.size) {
      val due = originNanos + tick * TickMs * 1000000L
      sleepUntil(due)
      lateMs.add((nanos - due) / 1e6)
      val until = tick * TickMs
      val r0 = ri; while (ri < reqs.size && reqs(ri)._1 < until) ri += 1
      val m0 = mi; while (mi < mails.size && mails(mi).at < until) mi += 1
      val rs = reqs.slice(r0, ri); val ms = mails.slice(m0, mi)
      val t0 = nanos; val u0 = Trace.epochUs()
      record(Nil, Nil, ms, c.produceMails(ms.map(m => (epochMs + m.at) -> raws(m))))
      val t1 = nanos; val u1 = Trace.epochUs()
      record(rs.map(_._2), c.produceRequests(rs.map { case (_, l, at) => l -> (epochMs + at) }),
        Nil, Nil)
      val t2 = nanos; val u2 = Trace.epochUs()
      if (ms.nonEmpty) produceMs.add((t1 - t0) / 1e6)
      if (rs.nonEmpty) produceMs.add((t2 - t1) / 1e6)
      trace.foreach { tr =>
        tr.span("bus.produce.mails", s"tick/$tick", "", u0, u1, s"n=${ms.size}")
        tr.span("bus.produce.requests", s"tick/$tick", "", u1, u2, s"n=${rs.size}")
        ms.foreach(m => tr.span("login.mail", m.loginKey,
          s"tick/$tick:bus.produce.mails", (epochMs + m.at) * 1000, u1, s"kind=${m.kind}"))
        rs.foreach { case (_, l, at) => tr.span("login.request", l.key,
          s"tick/$tick:bus.produce.requests", (epochMs + at) * 1000, u2) }
      }
      tick += 1
    }
  }, "perfbench-bus")

  // ─── workloads ───

  def live(): Run = {
    val runs = (0 until Setups).map { k =>
      val t0 = nanos
      val c = new Chain(spark, s"${a.work}/live/setup$k", TopicPartitions, endpoint.base, None)
      c.start()
      val t1 = nanos
      warm(c, k.toString)
      setupS :+= sec(t0); preloadS :+= (t1 - t0) / 1e9; warmS :+= sec(t1)
      if (k < Setups - 1) c.stop()
      c
    }
    chain = runs.last
    log(f"live setups ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    endpoint.received.clear()
    val ms = a.seconds * 1000L
    val (ls, mm) = Gen.logins(a.seed, (LoginsPerSecond * a.seconds).toInt,
      LoginsPerSecond, LiveRedeliverLagMs, ms)
    logins = ls; mails = mm
    pushes = Gen.pushes(a.seed, PushesPerSecond, ms)
    // whole-second epoch: each request's millisecond within its second,
    // hence the same-second share, follows from the seed alone
    epochMs = (System.currentTimeMillis() / 1000 + 2) * 1000
    val raws = rawMails
    originNanos = nanos + (epochMs - System.currentTimeMillis()) * 1000000L
    stealAtOrigin = Host.cpuTicks()
    val threads = Seq(busProducer(chain, raws), pusher(chain))
    threads.foreach(_.start()); threads.foreach(_.join())
    val caughtUp = chain.drain(nanos + 60L * 1000000000L)
    log(s"live generator done; drained=$caughtUp")
    finish(caughtUp)
  }

  def backlog(): Run = {
    // one warm chain drains a small backlog of its own first, so the
    // per-row path is compiled before the measured drain; the set-up
    // repeated is the load
    val t0 = nanos
    loadBacklog(WarmBacklogLogins, a.seed + 1)
    val w = new Chain(spark, s"${a.work}/backlog/warm", TopicPartitions,
      endpoint.base, Some(BacklogMaxPerTrigger))
    preload(w, rawMails)
    w.start()
    warm(w, "")
    w.stop()
    loadBacklog(BacklogLogins, a.seed)
    val raws = rawMails
    warmS :+= sec(t0)
    log(f"backlog warm ${sec(t0)}%.2f s")
    val runs = (0 until Setups).map { k =>
      val t1 = nanos
      val c = new Chain(spark, s"${a.work}/backlog/setup$k", TopicPartitions,
        endpoint.base, Some(BacklogMaxPerTrigger))
      preload(c, raws)
      setupS :+= sec(t1); preloadS :+= sec(t1)
      c
    }
    runs.init.foreach(_.receiver.stop())
    chain = runs.last
    log(f"backlog setups ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    endpoint.received.clear()
    pushes = Gen.pushes(a.seed, PushesPerSecond, a.seconds * 1000L)
    originNanos = nanos
    stealAtOrigin = Host.cpuTicks()
    replay = true
    chain.start()
    val p = pusher(chain)
    p.start()
    val caughtUp = chain.drain(nanos + 150L * 1000000000L)
    log(f"backlog drained=$caughtUp in ${sec(originNanos)}%.1f s")
    p.join()
    // the pushes sent after the drain
    val pushesDone = chain.drain(nanos + 30L * 1000000000L)
    finish(caughtUp && pushesDone)
  }

  /** The backlog at local[1], half the size: logins resolved per second
    * with one core. */
  def baseline(): Double = {
    loadBacklog(BacklogLogins / 2, a.seed)
    chain = new Chain(spark, s"${a.work}/baseline", TopicPartitions, endpoint.base,
      Some(BacklogMaxPerTrigger))
    preload(chain, rawMails)
    pushes = Gen.pushes(a.seed, PushesPerSecond, a.seconds * 1000L)
    originNanos = nanos
    chain.start()
    val p = pusher(chain)
    p.start()
    chain.drain(nanos + 120L * 1000000000L)
    p.join()
    chain.stop()
    endpoint.stop()
    drainRate(chain, endpoint.signals)
  }

  /** The backlog's inputs: logins at a virtual rate, replayed at once. A
    * request is re-delivered only inside the login span, where the request
    * topic's read position stays ahead of the mail topic's by far less
    * than the re-delivery lag, so the key is terminal when it arrives. */
  private def loadBacklog(n: Int, seed: Long): Unit = {
    val span = (n * 1000 / LoginsPerSecond).toLong
    val (ls, mm) = Gen.logins(seed, n, LoginsPerSecond, BacklogRedeliverLagMs, span)
    logins = ls; mails = mm
    epochMs = BacklogEpochMs
  }

  private def rawMails: Map[Mail, String] =
    mails.zipWithIndex.map { case (m, i) => m -> Gen.rawMail(m, epochMs, i) }.toMap

  /** Writes the whole backlog to the topics, one produce per topic and
    * five virtual seconds, as a batching publisher would have. */
  private def preload(c: Chain, raws: Map[Mail, String]): Unit = {
    requestAt.clear(); otpMailAt.clear() // positions are per chain
    val reqs = logins.flatMap(l => Seq((l.reqAt, l)) ++
      (if (l.redelivered) Seq((l.redeliverAt, l)) else Nil)).sortBy(_._1)
    def timed(f: => Unit): Unit = { val t0 = nanos; f; produceMs.add((nanos - t0) / 1e6) }
    reqs.groupBy(_._1 / PreloadChunkMs).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      timed(record(rs.map(_._2),
        c.produceRequests(rs.map { case (at, l) => l -> (epochMs + at) }), Nil, Nil)) }
    mails.groupBy(_.at / PreloadChunkMs).toSeq.sortBy(_._1).foreach { case (_, ms0) =>
      val ms = ms0.sortBy(_.at)
      timed(record(Nil, Nil, ms, c.produceMails(ms.map(m => (epochMs + m.at) -> raws(m))))) }
  }

  /** Keeps the bus position of each login's first request and OTP mail. */
  private def record(ls: Seq[Login], lsAt: Seq[(Int, Long)], ms: Seq[Mail],
      msAt: Seq[(Int, Long)]): Unit = {
    ls.zip(lsAt).foreach { case (l, at) => requestAt.putIfAbsent(l.key, at) }
    ms.zip(msAt).foreach { case (m, at) => if (m.kind == "otp") otpMailAt.put(m.loginKey, at) }
  }

  // ─── checks ───

  /** True when the mail's whole-second Date sorts before its request:
    * `OtpCorrelation.transition` then sees the OTP first and drops it. */
  private def sameSecond(l: Login): Boolean = (l.mailAt / 1000) * 1000 < l.reqAt

  /** Why a login got no signal. "reordered": both its request and its
    * mail were read, the mail in an earlier micro-batch, so the OTP found
    * no session. "same-second": both were read in one batch and the mail's
    * Date sorts first. Anything else is a wrong output, including a
    * request or mail no batch read and any login of a run whose chain did
    * not drain. */
  private def missingCause(l: Login): String =
    (Option(requestAt.get(l.key)), Option(otpMailAt.get(l.key))) match {
      case (Some(r), Some(m)) if drained =>
        val rb = chain.batchOf(0, r); val mb = chain.batchOf(1, m)
        if (rb < 0 || mb < 0) "other"
        else if (rb > mb) "reordered"
        else if (rb == mb && sameSecond(l)) "same-second"
        else "other"
      case _ => "other"
    }

  private def finish(caughtUp: Boolean): Run = {
    drained = caughtUp
    if (!drained) log("the chain did not drain: every missing signal counts as wrong")
    stealShare = Host.stealShare(stealAtOrigin, Host.cpuTicks())
    chain.stop()
    endpoint.stop()
    log("chain stopped; checking outputs")
    signals = endpoint.signals
    val byKey = signals.groupBy(_.key)
    val loginKeys = logins.map(_.key).toSet
    logins.foreach { l =>
      val got = byKey.getOrElse(l.key, Vector.empty).map(_.otp)
      val want = if (l.redelivered) Vector(l.otp, l.otp) else Vector(l.otp)
      if (got != want) (if (got.isEmpty) missingCause(l) else "other") match {
        case "same-second" => failedSameSecond += 1
        case "reordered" => failedReordered += 1
        case _ => failedOther += 1; log(s"login ${l.key}: got $got, want $want")
      }
    }
    attempted += logins.size
    mails.filter(_.kind != "otp").foreach { m =>
      attempted += 1
      val wrong = m.kind match {
        case "orphan" => byKey.contains(m.loginKey)
        case "stale" => byKey.getOrElse(m.loginKey, Vector.empty).exists(_.otp == m.otp)
        case _ => false // a no-OTP mail can only show as an extra login signal
      }
      if (wrong) { failedOther += 1; log(s"${m.kind} mail for ${m.loginKey} signalled") }
    }
    val orphanKeys = mails.filter(_.kind == "orphan").map(_.loginKey).toSet
    val stray = signals.filterNot(s => loginKeys(s.key) || orphanKeys(s.key) ||
      s.key.startsWith("zepto_w"))
    if (stray.nonEmpty) { failedOther += stray.size; log(s"stray signals: ${stray.take(5)}") }

    val adv = chain.published(chain.advancesDir, "mailbox STRING, historyId BIGINT")
      .map(r => (r.getString(0), r.getLong(1)))
      .filterNot(_._1.startsWith("warm"))
    val advCount = adv.groupBy(identity).view.mapValues(_.length).toMap
    val rej = chain.published(chain.rejectsDir, "payload STRING, reason STRING")
      .map(r => (r.getString(0), r.getString(1)))
    // identical envelopes (a mailbox's missing-historyId) share a payload:
    // each must land in the dead letter once per push, with its reason
    val rejByPayload = rej.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val pushesByPayload = pushes.groupBy(_.data).view.mapValues(_.size).toMap
    pushes.foreach { p =>
      attempted += 1
      val n = advCount.getOrElse((p.mailbox, p.historyId), 0)
      val ok = p.kind match {
        case "valid" | "duplicate" => n == 1
        case "stale" => n == 0
        case reason => rejByPayload.get(p.data)
          .contains(Seq.fill(pushesByPayload(p.data))(reason))
      }
      if (!ok) { failedOther += 1; log(s"push ${p.seq} (${p.kind}) mishandled") }
    }
    failedOther += nacks.get
    val validIds = pushes.filter(_.kind == "valid").map(p => (p.mailbox, p.historyId)).toSet
    val extra = advCount.keySet -- validIds
    if (extra.nonEmpty) { failedOther += extra.size; log(s"guard accepted ${extra.take(5)}") }
    accepted = adv.length
    rejected = rej.count(r => pushesByPayload.contains(r._1))
    dropped = pushes.count(p => Set("valid", "duplicate", "stale")(p.kind)) - accepted

    trace.foreach { tr =>
      val wall = System.currentTimeMillis() * 1000 - nanos / 1000
      logins.foreach { l =>
        byKey.get(l.key).foreach { ss =>
          tr.span("login.signal", l.key, "", wall + sentNanos(l) / 1000,
            wall + ss.map(_.atNanos).min / 1000, s"signals=${ss.size}")
        }
      }
    }
    failed = failedSameSecond + failedReordered + failedOther
    correct = failedOther == 0 && drained
    log(s"attempted=$attempted failed=$failed (same-second=$failedSameSecond " +
      s"reordered=$failedReordered other=$failedOther)")
    log(f"host CPU steal during the measured phase: ${stealShare * 100}%.1f %%")
    this
  }

  // ─── metrics ───

  /** When a login's OTP mail was due: its scheduled send time, or for a
    * replayed backlog the start of the drain. */
  private def sentNanos(l: Login): Long =
    if (replay) originNanos else originNanos + l.mailAt * 1000000L

  /** Signal latency: from the mail's due time to the first signal's
    * arrival at the endpoint. */
  private def latenciesMs: Vector[Double] = {
    val first = signals.groupBy(_.key).view.mapValues(_.minBy(_.atNanos).atNanos).toMap
    logins.flatMap(l => first.get(l.key).map(at => (at - sentNanos(l)) / 1e6))
  }

  /** Logins resolved per second: the median over the correlate query's
    * micro-batches, after the first two, of the logins first signalled
    * during the batch over the batch's duration. A median over batches
    * keeps a short stall of the machine from moving the figure. */
  private def drainRate(c: Chain, sigs: Vector[Signal]): Double = {
    val wallOffset = System.currentTimeMillis() * 1000000L - nanos
    val firsts = sigs.groupBy(_.key).values.map(_.map(_.atNanos).min + wallOffset)
      .toVector.sorted
    val rates = c.correlate.recentProgress.filter(_.numInputRows > 0)
      .sortBy(_.batchId).drop(2).flatMap { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val ms = p.durationMs.get("triggerExecution").longValue
        val n = firsts.count(t => t >= start && t < start + ms * 1000000L)
        if (ms > 0 && n > 0) Some(n * 1000.0 / ms) else None
      }
    Stats.median(rates.toSeq)
  }

  def endToEnd(m: Metrics, rssMb: Double, prefix: String = ""): Unit = {
    val lat = latenciesMs
    val ack = ackMs.asScala.toVector
    if (prefix.isEmpty) m(s"setup_s") = Stats.median(setupS) -> "s"
    m(s"${prefix}signal_p50_ms") = Stats.pct(lat, 0.5) -> "ms"
    m(s"${prefix}drain_logins_per_s") = drainRate(chain, signals) -> "1/s"
    m(s"${prefix}success_share") = (1 - failed.toDouble / attempted) -> "share"
    if (prefix.isEmpty) m(s"rss_peak_mb") = rssMb -> "MB"
    log(f"signals=${lat.size} pushes=${ack.size} push ACK p50=${Stats.pct(ack, 0.5)}%.1f ms")
  }

  def perLayer(m: Metrics, tr: Trace, sessionS: Double): Unit = {
    // these follow the host's speed too closely between runs to serve as
    // end-to-end gates on a shared machine
    m("signal.p99_ms") = Stats.pct(latenciesMs, 0.99) -> "ms"
    m("push.ack_p50_ms") = Stats.pct(ackMs.asScala.toVector, 0.5) -> "ms"
    m("push.ack_p90_ms") = Stats.pct(ackMs.asScala.toVector, 0.9) -> "ms"
    m("push.count") = pushes.size.toDouble -> "count"
    m("push.nack") = nacks.get.toDouble -> "count"
    val prod = produceMs.asScala.toVector
    m("bus.produce_ms.p50") = Stats.pct(prod, 0.5) -> "ms"
    m("bus.produce_ms.p99") = Stats.pct(prod, 0.99) -> "ms"
    m("bus.segments") = chain.segments.toDouble -> "count"
    m("gen.late_ms.p99") = Stats.pct(lateMs.asScala.toVector, 0.99) -> "ms"

    val ids = chain.queries.map { case (n, q) => n -> q.id.toString }.toMap
    def prog(q: String) = tr.progressOf(ids(q))
    def dur(q: String, k: String, data: Boolean = true) =
      prog(q).filter(p => !data || p.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    def state(q: String) = prog(q).flatMap(_.stateOperators.headOption)
    m("correlate.latest_offset_ms.p50") = Stats.pct(dur("correlate", "latestOffset", false), 0.5) -> "ms"
    m("correlate.latest_offset_ms.p99") = Stats.pct(dur("correlate", "latestOffset", false), 0.99) -> "ms"
    m("correlate.get_batch_ms.p50") = Stats.pct(dur("correlate", "getBatch"), 0.5) -> "ms"
    m("guard.latest_offset_ms.p50") = Stats.pct(dur("guard", "latestOffset", false), 0.5) -> "ms"
    m("guard.add_batch_ms.p50") = Stats.pct(dur("guard", "addBatch"), 0.5) -> "ms"
    m("guard.state_rows") = state("guard").lastOption.fold(0.0)(_.numRowsTotal.toDouble) -> "rows"
    m("guard.accepted") = accepted.toDouble -> "count"
    m("guard.rejected") = rejected.toDouble -> "count"
    m("guard.dropped") = dropped.toDouble -> "count"
    m("parse.us_per_mail") = parseUsPerMail(tr) -> "us"
    val cs = state("correlate")
    m("correlate.state_rows") = cs.lastOption.fold(0.0)(_.numRowsTotal.toDouble) -> "rows"
    m("correlate.state_bytes") = cs.lastOption.fold(0.0)(_.memoryUsedBytes.toDouble) -> "bytes"
    m("correlate.state_commit_ms.p50") = Stats.pct(cs.map(_.commitTimeMs.toDouble), 0.5) -> "ms"
    m("correlate.state_update_ms.p50") = Stats.pct(cs.map(_.allUpdatesTimeMs.toDouble), 0.5) -> "ms"
    for (q <- Seq("correlate", "guard", "rejects")) {
      val ps = prog(q)
      val data = ps.filter(_.numInputRows > 0)
      val js = Option(tr.jobStats.get(ids(q)))
      val batches = math.max(1, ps.size).toDouble
      m(s"$q.batches") = ps.size.toDouble -> "count"
      m(s"$q.rows_per_batch.p50") = Stats.pct(data.map(_.numInputRows.toDouble), 0.5) -> "rows"
      m(s"$q.planning_ms.p50") = Stats.pct(dur(q, "queryPlanning"), 0.5) -> "ms"
      m(s"$q.wal_commit_ms.p50") = Stats.pct(dur(q, "walCommit"), 0.5) -> "ms"
      m(s"$q.commit_offsets_ms.p50") = Stats.pct(dur(q, "commitOffsets"), 0.5) -> "ms"
      m(s"$q.add_batch_ms.p50") = Stats.pct(dur(q, "addBatch"), 0.5) -> "ms"
      m(s"$q.trigger_ms.p50") = Stats.pct(dur(q, "triggerExecution"), 0.5) -> "ms"
      m(s"$q.jobs_per_batch") = js.fold(0.0)(_.jobs / batches) -> "count"
      m(s"$q.tasks_per_batch") = js.fold(0.0)(_.tasks / batches) -> "count"
      m(s"$q.task_ms_per_batch") = js.fold(0.0)(_.busyMs / batches) -> "ms"
    }
    m("signal.posts") = signals.size.toDouble -> "count"
    m("signal.duplicates") = (signals.size - signals.map(_.token).distinct.size).toDouble -> "count"
    m("failed_share") = (failed.toDouble / attempted) -> "share"
    m("failed.same_second") = failedSameSecond.toDouble -> "count"
    m("failed.reordered") = failedReordered.toDouble -> "count"
    m("failed.other") = failedOther.toDouble -> "count"
    m("host.steal_share") = stealShare -> "share"
    m("setup.session_s") = sessionS -> "s"
    m("setup.preload_s") = Stats.median(preloadS) -> "s"
    m("setup.warm_s") = Stats.median(warmS) -> "s"
  }

  /** `IngestPipeline.parseEmails` on a static batch of this run's mails:
    * the per-row cost of MIME parsing and extraction, median of three. */
  private def parseUsPerMail(tr: Trace): Double = {
    import spark.implicits._
    val sample = mails.take(20000).zipWithIndex.map { case (m, i) =>
      (Gen.rawMail(m, epochMs, i), new java.sql.Timestamp(epochMs + m.at)) }
    val df = sample.toDF("raw_email", "delivered_at").cache()
    df.count()
    val times = (0 until 3).map { i =>
      val t0 = nanos; val u0 = Trace.epochUs()
      graft.streaming.IngestPipeline.parseEmails(df, col("delivered_at"))
        .write.format("noop").mode("overwrite").save()
      tr.span("layer.parseEmails", s"parse/$i", "", u0, Trace.epochUs(),
        s"mails=${sample.size}")
      (nanos - t0) / 1e3 / sample.size
    }
    df.unpersist()
    Stats.median(times)
  }
}

/** The machine's CPU time counters: the share the hypervisor took from
  * this guest (steal) tells a slow run caused by the host apart from one
  * caused by the program. */
object Host {
  def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  def stealShare(from: Array[Long], to: Array[Long]): Double = {
    val d = to.zip(from).map { case (b, a) => b - a }
    if (d.length < 8 || d.take(8).sum == 0) 0.0 else d(7).toDouble / d.take(8).sum
  }
}
