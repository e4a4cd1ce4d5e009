package perfbench

import java.nio.file.Files

/** Self-tests of the benchmark's own code (no Spark session): seeded
  * inputs are byte-identical, the model reproduces the streaming ingest's
  * five-envelope case, the page checkers reject a wrong page, the
  * percentile helper refuses a thin tail, and the closed loop counts a
  * request that throws. Exits non-zero on the first failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("the same seed gives byte-identical staged files and fixture rows") {
      def staged(seed: Long) = {
        val dir = Files.createTempDirectory("perfbench-selftest")
        val gen = new Gen(seed, 500)
        try {
          Tables.stage(dir.toString, "cdc", gen.follows(300) ++ gen.next(5000), 5)
          (0 until 5).map(i => Files.readAllBytes(dir.resolve(f"cdc-$i%05d.json")).toSeq)
        } finally Tables.delete(dir.toString)
      }
      val a = staged(7); val b = staged(7); val c = staged(8)
      a == b && a != c && Gen.events(7, 1000, 50) == Gen.events(7, 1000, 50)
    }

    check("the generated universe has the promised properties") {
      val gen = new Gen(3, 2000)
      val envs = gen.next(50000)
      val distinct = envs.distinct
      def share(p: Envelope => Boolean) = distinct.count(p).toDouble / distinct.size
      val replays = (envs.size - distinct.size).toDouble / distinct.size
      val byActor = distinct.groupBy(_.actor).values.map(_.size).toSeq.sorted.reverse
      math.abs(share(_.op == "c") - 0.8) < 0.02 && math.abs(share(_.op == "u") - 0.1) < 0.02 &&
        math.abs(share(_.flaw == Envelope.Malformed) - 0.01) < 0.003 &&
        math.abs(replays - 0.05) < 0.01 && byActor.head > 20 * byActor(byActor.size / 2)
    }

    check("model: the streaming spec's five envelopes give four activities") {
      // the four creates and one update of the repository's streaming test
      val envs = Seq(
        Envelope("likes", 7, "c", 1752228000000L, "2", "3", Nil, Envelope.Clean, ""),
        Envelope("comments", 4, "c", 1752228060000L, "2", "3",
          Seq("message" -> "nice shard!"), Envelope.Clean, ""),
        Envelope("shards", 6, "c", 1752228120000L, "2", "6", Seq("templateType" -> "react",
          "mode" -> "normal", "type" -> "public", "title" -> "My Sixth Shard"), Envelope.Clean, ""),
        Envelope("followers", 2, "c", 1752228180000L, "2", "1", Nil, Envelope.Clean, ""),
        Envelope("likes", 8, "u", 1752228240000L, "9", "3", Nil, Envelope.Clean, ""))
      val rows = Model.activity(envs ++ envs.take(2))
      rows.size == 4 && rows.map(_.activityType).distinct.size == 4 &&
        Model.followees(rows) == Map("2" -> Set("1")) &&
        rows.find(_.activityType == "CREATE_SHARD").get.metadata("template_type") == "react"
    }

    check("model: malformed and meta-less envelopes are gated out") {
      val gen = new Gen(5, 200)
      val envs = gen.next(20000)
      val rows = Model.activity(envs)
      val flawed = envs.filter(_.flaw != Envelope.Clean)
      flawed.nonEmpty && flawed.forall(e => !Model.admitted(e)) &&
        flawed.filter(_.flaw == Envelope.Malformed).forall(e => !e.line.endsWith("}")) &&
        rows.size == envs.filter(Model.admitted).distinct.size
    }

    check("the page checker rejects a page that is off by one") {
      val gen = new Gen(11, 300)
      val rows = Model.activity(gen.follows(2000) ++ gen.next(20000))
      val pages = new Model.Pages(rows, Model.followees(rows))
      val reader = pages.follows.maxBy(_._2.size)._1
      val page = pages.page(reader, 0, 20)
      val shifted = pages.page(reader, 1, 20)
      page.size == 20 && Model.checkPage(page, page).isEmpty &&
        Model.checkPage(page, shifted).nonEmpty && Model.checkPage(page, page.init).nonEmpty
    }

    check("the percentile helper refuses a tail with fewer than 10 samples beyond it") {
      val xs = (1 to 199).map(_.toDouble)
      val refused = try { Stats.percentile(xs, 95); false } catch { case _: IllegalArgumentException => true }
      refused && Stats.percentile(xs :+ 200.0, 95) > 189 && Stats.median(xs) == 100.0 &&
        Stats.samplesFor(95) == 200
    }

    check("the closed loop counts a request that throws and keeps its client going") {
      val done = Loops.closed(1, System.nanoTime() + 10000000000L, 5) { i =>
        if (i == 2) throw new IllegalStateException("boom") else i
      }
      done.size == 5 && done.count(_.value.isFailure) == 1 &&
        done.flatMap(_.value.toOption) == Vector(0, 1, 3, 4)
    }

    if (failures > 0) sys.exit(1)
  }
}
