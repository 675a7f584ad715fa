package graft.bench

/** Self-tests of the harness arithmetic: percentiles, open-loop due-time
  * latency and generator lag, interval unions and span self time. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  private def near(a: Double, b: Double, eps: Double = 1e-9) = math.abs(a - b) <= eps

  def main(args: Array[String]): Unit = {
    check("quantile interpolates between order statistics") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      near(Stats.quantile(xs, 0.5), 2.5) && near(Stats.quantile(xs, 0.0), 1.0) &&
        near(Stats.quantile(xs, 1.0), 4.0) &&
        near(Stats.quantile((1 to 10).map(_.toDouble), 0.9), 9.1)
    }
    check("quantile of one sample and of none") {
      near(Stats.quantile(Seq(7.0), 0.99), 7.0) && Stats.quantile(Nil, 0.5).isNaN
    }
    check("open-loop latency runs from the due time; lag only when free") {
      val ms = 1000000L
      val late = Stats.Timed(dueNs = 0, sendNs = 5 * ms, doneNs = 12 * ms, freeNs = -1 * ms)
      val queued = Stats.Timed(dueNs = 0, sendNs = 5 * ms, doneNs = 12 * ms, freeNs = 5 * ms)
      near(late.latencyMs, 12.0) && near(late.generatorLagMs, 5.0) &&
        near(queued.latencyMs, 12.0) && queued.generatorLagMs.isNaN
    }
    check("a stall charges the requests queued behind it") {
      // one connection, request 0 takes 30 ms, request 1 is due at 5 ms
      val done = Load.openLoop(Array(0L, 5000000L), 1) { (_, i) =>
        if (i == 0) Thread.sleep(30)
      }
      done(1).t.latencyMs >= 25.0 && done(1).t.generatorLagMs.isNaN &&
        done(0).t.latencyMs >= 30.0
    }
    check("poisson schedule is seeded, increasing, at the asked rate") {
      val a = Stats.poissonSchedule(20000, 1000.0, new java.util.Random(3))
      val b = Stats.poissonSchedule(20000, 1000.0, new java.util.Random(3))
      a.sameElements(b) && a.sliding(2).forall(p => p(1) >= p(0)) &&
        math.abs(a.last / 1e9 / 20.0 - 1.0) < 0.05
    }
    check("union length merges overlaps and skips empty intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L &&
        Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L && Stats.unionLength(Nil) == 0L
    }
    check("self time is a span minus what its children cover") {
      val spans = Seq(Span(1, "root", 0, 100, 0, 9), Span(2, "a", 10, 30, 1, 9),
        Span(3, "b", 40, 70, 1, 9), Span(4, "c", 50, 60, 3, 9))
      val self = Tracer.selfTimes(spans)
      self(1) == 50 && self(2) == 20 && self(3) == 20 && self(4) == 10 &&
        Tracer.requestBalance(spans) == Seq((100L, 100L))
    }
    check("overlapping children are counted once in the parent") {
      val spans = Seq(Span(1, "root", 0, 100, 0, 1), Span(2, "a", 10, 30, 1, 1),
        Span(3, "b", 20, 50, 1, 1))
      Tracer.selfTimes(spans)(1) == 60
    }
    check("tracer nests spans across a handed-over context") {
      val t = new Tracer(true)
      val req = t.newRequest()
      t.span("client", req = req, parent = 0L) {
        val ctx = t.context
        val th = new Thread(() => t.withContext(ctx)(t.span("server")(t.span("engine")(()))))
        th.start(); th.join()
      }
      t.span("untraced")(())
      val s = t.all.map(x => x.name -> x).toMap
      s.size == 3 && s("server").parent == s("client").id && s("engine").parent == s("server").id &&
        s.values.forall(_.req == req)
    }
    check("json escapes and numbers") {
      Json(Map("a\"b" -> Seq(1.5, 2.0, Double.NaN), "c" -> "x\ny")) ==
        """{"a\"b":[1.5,2,null],"c":"x\ny"}"""
    }
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
