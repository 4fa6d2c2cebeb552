package perfbench

/** The benchmark's own checks on tiny inputs: reference folds,
  * percentile and self-time arithmetic, attribution of jobs to the
  * labelled commit phases. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var passed = 0
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(name: String)(ok: => Boolean): Unit =
    try { if (ok) passed += 1 else failures += name }
    catch { case e: Throwable => failures += s"$name: $e" }

  private def bk(id: String, seq: Long, cents: Long = 100): Booking =
    Booking(id, 1, cents, "USD", "2024-01-02", "2024-01-03", "2024-01-01 00:00:00", "paris", "france", seq)

  def main(args: Array[String]): Unit = {
    val xs = (1 to 10).map(_.toDouble)
    check("p50 is the 5th of 10")(Stats.percentile(xs, 50) == 5.0)
    check("p90 is the 9th of 10")(Stats.percentile(xs, 90) == 9.0)
    check("p100 is the max")(Stats.percentile(xs, 100) == 10.0)
    check("p0 is the min")(Stats.percentile(xs, 0) == 1.0)
    check("percentile ignores input order")(Stats.percentile(xs.reverse, 90) == 9.0)
    check("empty percentile is NaN")(Stats.percentile(Nil, 50).isNaN)
    check("one sample beyond p90 of 10")(Stats.beyond(xs, 90) == 1)

    check("union merges overlaps")(Stats.unionLength(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0))) == 5.0)
    check("union of nothing is 0")(Stats.unionLength(Nil) == 0.0)
    check("self time clips children to the parent")(
      Stats.selfTime((0.0, 10.0), Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0)
    check("self time without children is the span")(Stats.selfTime((2.0, 5.0), Nil) == 3.0)
    check("self time is never negative")(Stats.selfTime((0.0, 1.0), Seq((-1.0, 2.0))) == 0.0)

    // LWW fold: sequence order wins, a delete removes, a re-insert after
    // a delete in the same epoch survives
    val base = Map("a" -> bk("a", 1))
    val epoch = Seq(Change(bk("b", 2), delete = false), Change(bk("a", 3, 200), delete = false),
      Change(bk("b", 4), delete = true), Change(bk("b", 5, 300), delete = false),
      Change(bk("c", 6), delete = false), Change(bk("c", 7), delete = true))
    val folded = Ref.applyChanges(base, epoch.reverse)
    check("LWW fold keeps the last write per key")(
      folded == Map("a" -> bk("a", 3, 200), "b" -> bk("b", 5, 300)))

    val c = (k: Long, n: String) => Customer(k, n, 1, 100, "BUILDING")
    check("SCD1 fold: later files overwrite, new keys insert")(
      Ref.scd1(Map(1L -> c(1, "a")), Seq(Seq(c(1, "b"), c(2, "x")), Seq(c(1, "c")))) ==
        Map(1L -> c(1, "c"), 2L -> c(2, "x")))

    // generators are deterministic in the seed and hit their shares
    def feed(seed: Long) = { val f = new BookingFeed(seed, 500, 10); (f.base, Vector.fill(20)(f.epoch(200)), f) }
    val (b1, e1, f1) = feed(7)
    val (b2, e2, _) = feed(7)
    val (b3, _, _) = feed(8)
    check("same seed, same feed")(b1 == b2 && e1 == e2)
    check("another seed, another feed")(b1 != b3)
    val p = f1.props
    check("about 5% deletes")(p.deletes.toDouble / p.total > 0.03 && p.deletes.toDouble / p.total < 0.07)
    check("intra-epoch duplicates present")(p.intraEpochDups > 0)
    check("updates skew to recent keys")(p.recentHits.toDouble / (p.updates + p.deletes) > 0.3)
    check("seq strictly increases")(e1.flatten.map(_.b.seq).sliding(2).forall(w => w(0) < w(1)))
    val cf = new CustomerFeed(3, 100)
    val f = cf.file(50)
    check("customer file keys are unique")(f.map(_.key).distinct.size == 50)
    check("customer file updates 70%")(f.count(_.key <= 100) == 35)

    // attribution of jobs to labelled commit phases
    check("phase labels")(Tracer.phaseOf("morlog:locate") == "locate" &&
      Tracer.phaseOf("morlog:net epoch 3") == "net" && Tracer.phaseOf("morlog:other") == "unlabelled" &&
      Tracer.phaseOf("") == "unlabelled" && Tracer.phaseOf(null) == "unlabelled")
    val l = new Ledger
    l.jobStarted(Job(1, 1000, Double.NaN, "morlog:stage", 3, Some(9L), Seq(10, 11)))
    l.jobStarted(Job(2, 1500, Double.NaN, "morlog:locate", 3, Some(9L), Seq(11, 12)))
    l.jobStarted(Job(3, 2500, Double.NaN, "batch = 9", 4, Some(9L), Seq(13)))
    check("a job without an end is pending")(l.pending)
    l.jobEnded(1, 2000); l.jobEnded(2, 2200); l.jobEnded(3, 3000)
    Seq(Stage(10, 4, 1.0, 0.5, 10, csvScan = false), Stage(11, 2, 2.0, 1.0, 20, csvScan = false),
      Stage(12, 1, 4.0, 2.0, 40, csvScan = true), Stage(13, 8, 8.0, 4.0, 80, csvScan = false))
      .foreach(l.stageCompleted)
    check("ledger drains")(!l.pending)
    val jobs = l.allJobs
    val ph = Commit.phases(l, jobs)
    check("jobs attribute to their phase")(ph("stage")._1 == 1 && ph("locate")._1 == 1 && ph("unlabelled")._1 == 1)
    check("phase wall is the job wall")(ph("stage")._2 == 1.0 && ph("locate")._2 == 0.7)
    val c2 = l.cost(jobs.filter(_.id == 2))
    check("a stage shared by two jobs counts under the first")(c2.stages == 1 && c2.tasks == 1 && c2.taskS == 4.0)
    val all = l.cost(jobs)
    check("cost sums stages once")(all.stages == 4 && all.tasks == 15 && all.taskS == 15.0 &&
      all.shuffleBytes == 150 && all.csvTaskS == 4.0)
    check("job wall is the union of job intervals")(all.jobWallS == 1.7 && all.firstJobStartMs == 1000.0)
    check("batch tag carried")(jobs.forall(_.batch.contains(9L)))

    println(s"selftest: $passed passed, ${failures.size} failed")
    failures.foreach(f => println(s"  FAIL $f"))
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
