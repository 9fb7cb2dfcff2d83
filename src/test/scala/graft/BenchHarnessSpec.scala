package graft

/** The bench harness must never let a failure masquerade as a time: a
  * thrown rep becomes an ERR token, a query with zero successes lands in
  * "errors" (not "queries"), and partial failures stay visible in "runs"
  * while the min only considers successful reps.
  */
class BenchHarnessSpec extends SparkSpec {

  test("rep tokens round-trip times and collapse error text") {
    assert(Bench.parseToken(Bench.repToken(Right(1.25))) === Right(1.25))
    val e = Bench.repToken(Left("Analysis Exception:\n\"bad\\plan\""))
    assert(e.startsWith("ERR:"))
    assert(!e.exists(_.isWhitespace), "marker line is whitespace-split")
    assert(Bench.parseToken(e).isLeft)
  }

  test("render excludes failed queries from minima and totals") {
    val json = Bench.render(Seq(
      "q_ok"    -> Seq(Right(2.0), Right(1.0), Right(3.0)),
      "q_part"  -> Seq(Left("boom"), Right(5.0), Right(7.0)),
      "q_dead"  -> Seq(Left("a"), Left("b"), Left("c"))))
    assert(json.contains(""""q_ok":1.0"""))
    assert(json.contains(""""q_part":5.0"""), "partial failure keeps best success")
    assert(!json.contains(""""q_dead":-"""), "no sentinel times")
    assert(json.contains(""""errors":{"q_dead":"a; b; c"}"""))
    assert(json.contains(""""value":6.0"""), "total = 1.0 + 5.0, q_dead excluded")
    assert(json.contains(""""ERR: boom""""), "failed rep visible in runs")
    // output must stay one parseable JSON line
    assert(!json.contains("\n"))
  }

  test("render of an all-green sweep has an empty errors object") {
    val json = Bench.render(Seq("q1" -> Seq(Right(0.5), Right(0.4))))
    assert(json.contains(""""errors":{}"""))
    assert(json.contains(""""q1":0.4"""))
  }

  test("multi-line error messages stay one parseable JSON line") {
    // the in-process fallback hands RAW exception messages to render() —
    // no repToken collapse — so control chars must be escaped in jsonStr
    val json = Bench.render(Seq(
      "q_dead" -> Seq(Left("line1\nline2\ttabbed\rctl"))))
    assert(!json.contains("\n") && !json.contains("\t") && !json.contains("\r"))
    assert(json.contains("""line1\nline2\ttabbed\rctl"""))
  }

  test("adaptive reps: a still-descending sequence does not converge") {
    // q63's round-6 sequence: 25.9 -> 20.7 -> 10.5, still falling at the
    // old fixed-3 cap — the min must keep improving until it stalls
    assert(!Bench.converged(Seq(25.9, 20.7, 10.5)))
    assert(Bench.converged(Seq(25.9, 20.7, 10.5, 10.1)), "improvement stalled")
    assert(Bench.converged(Seq(1.0, 0.98, 0.97)), "stable from the start")
    assert(Bench.converged(Seq(1.0, 0.5, 3.0)),
      "a noisy spike above the min converges — the min is stable relative to it")
    assert(!Bench.converged(Seq(1.0, 0.9)), "fewer than MinReps never converges")
  }

  test("calibration is reported separately and never counts in value") {
    val json = Bench.render(Seq(
      "q1" -> Seq(Right(0.5)),
      Bench.CalibName -> Seq(Right(2.0), Right(1.8))))
    assert(json.contains(""""calibration":1.8"""))
    assert(json.contains(""""value":0.5"""), "calibration excluded from total")
    assert(!json.contains(s""""${Bench.CalibName}":1.8"""),
      "calibration not listed as a query minimum")
    assert(json.contains(""""calibration_fixed":[2.0,1.8]"""),
      "calibration reps stay visible in runs")
  }

  test("the I/O instrument is separately keyed and never pools into calibration") {
    // round-13.1: calibration_io exists precisely because the CPU
    // instrument is blind to the parquet path — pooling the two (or
    // letting either leak into "queries"/"value") would corrupt both
    val json = Bench.render(Seq(
      "q1" -> Seq(Right(0.5)),
      Bench.CalibName -> Seq(Right(2.0), Right(1.8)),
      s"${Bench.CalibIoName}" -> Seq(Right(4.0), Right(3.5)),
      s"${Bench.CalibIoName}_end" -> Seq(Right(3.0))))
    assert(json.contains(""""calibration":1.8"""), "CPU divisor untouched")
    assert(json.contains(""""calibration_io":3.0"""),
      "io divisor = min across its own placements only")
    assert(json.contains(""""calibration_io_runs":[3.5,3.0]"""))
    assert(json.contains(""""value":0.5"""),
      "neither instrument counts in the total")
    assert(!json.contains(""""calibration_io":3.5,"calibration":"""),
      "fields stay separate")
    assert(json.contains(""""declared":1"""),
      "instruments excluded from the attempted-query count")
  }

  test("in-process calibration placements stay in the runs, out of the minimum") {
    // a solo child that failed twice is measured in the parent JVM and
    // tagged: visible in calibration_runs, never the cross-round divisor
    val results: Seq[(String, Seq[Bench.Rep])] = Seq(
      "q1" -> Seq(Right(0.5)),
      Bench.CalibName -> Seq(Right(2.0)),
      s"${Bench.CalibName}_end${Bench.InprocSuffix}" -> Seq(Right(1.0)),
      s"${Bench.CalibIoName}${Bench.InprocSuffix}" -> Seq(Right(0.7)),
      s"${Bench.CalibIoName}_end" -> Seq(Right(3.0)))
    val json = Bench.render(results)
    assert(json.contains(""""calibration":2.0,"calibration_runs":[2.0,1.0]"""))
    assert(json.contains(
      """"calibration_io":3.0,"calibration_io_runs":[0.7,3.0]"""))
    assert(json.contains(""""value":0.5"""))
    val s = Bench.renderSummary(results)
    assert(s.contains(""""calibration":2.0""") && s.contains(""""calibration_io":3.0"""))
    // only in-process placements: runs listed, no minimum claimed
    val alone = Bench.render(Seq(
      s"${Bench.CalibName}${Bench.InprocSuffix}" -> Seq[Bench.Rep](Right(1.0))))
    assert(alone.contains(""""calibration_runs":[1.0]"""))
    assert(!alone.contains(""""calibration":"""))
  }

  test("isCalib covers both instruments and their _end placements") {
    assert(Bench.isCalib(Bench.CalibName))
    assert(Bench.isCalib(s"${Bench.CalibName}_end"))
    assert(Bench.isCalib(Bench.CalibIoName))
    assert(Bench.isCalib(s"${Bench.CalibIoName}_end"))
    assert(!Bench.isCalib("q63_corpus_pipeline_v2"))
  }

  test("summary line fits the driver's 2 KB tail at full sweep size") {
    // r13 verdict #1: the full render() line (~15 KB with runs/startup)
    // has never fit the driver's ~2 KB stdout tail — parsed: null in
    // BENCH_r08..r13. The short summary printed after it must stay
    // well under that window even at 202 queries + both instruments.
    val results: Seq[(String, Seq[Bench.Rep])] =
      (1 to 202).map(i => f"q$i%03d_some_descriptive_query_name" ->
        Seq[Bench.Rep](Right(1.0), Right(0.9), Right(1.1))) ++ Seq(
        Bench.CalibName -> Seq[Bench.Rep](Right(2.0)),
        s"${Bench.CalibIoName}" -> Seq[Bench.Rep](Right(1.5)),
        s"${Bench.CalibName}_end" -> Seq[Bench.Rep](Right(2.1)),
        s"${Bench.CalibIoName}_end" -> Seq[Bench.Rep](Right(1.6)))
    val startups = results.map { case (k, _) => k -> 9.5 }.toMap
    val s = Bench.renderSummary(results, startups)
    assert(s.length < 600, s"summary must fit a 2 KB tail, got ${s.length}")
    assert(!s.contains("\n"), "one line")
    assert(s.contains(""""metric":"total""""), "contract-shaped")
    val expected = 202 * 0.9
    assert(s.contains(s""""value":$expected"""),
      "value = sum of per-query minima")
    assert(s.contains(""""n":202""") && s.contains(""""declared":202"""))
    assert(s.contains(""""errors":0"""))
    assert(s.contains(""""calibration":2.0"""))
    assert(s.contains(""""calibration_io":1.5"""))
    assert(s.contains(""""unit":"sec"""") && s.contains(""""sf":"""))
  }

  test("summary line counts failed queries and excludes them from value") {
    val s = Bench.renderSummary(Seq(
      "q_ok" -> Seq[Bench.Rep](Right(2.0), Right(1.0)),
      "q_dead" -> Seq[Bench.Rep](Left("a"), Left("b"))),
      detail = Some("out/run_failed.json"))
    assert(s.contains(""""detail":"out/run_failed.json""""))
    assert(s.contains(""""value":1.0"""))
    assert(s.contains(""""n":1""") && s.contains(""""declared":2"""))
    assert(s.contains(""""errors":1"""))
  }

  test("render reports per-query session startup separately from minima") {
    val json = Bench.render(
      Seq("q1" -> Seq(Right(0.5)), "q2" -> Seq(Right(0.7))),
      startups = Map("q1" -> 0.8, "q2" -> 0.6))
    assert(json.contains(""""q1":0.5"""), "operator minima unchanged")
    assert(json.contains(""""startup":{"q1":0.8,"q2":0.6}"""))
    assert(json.contains(""""startup_total":1.4"""))
    assert(json.contains(""""value":1.2"""), "value stays pure operator time")
  }

  test("a throwing query: MaxReps ERR reps, listed in errors, written to _failed.json, exit 1") {
    val dir = tempDir("graft_bench_spec")
    try {
      val reps = Bench.measure(TestSession.spark,
        (_, _) => throw new RuntimeException("forced failure"), dir.toString)
      assert(reps.size === Bench.MaxReps, "a failed rep never converges")
      assert(reps.map(Bench.repToken).forall(_.startsWith("ERR:")))
      val results = Seq("q_ok" -> Seq[Bench.Rep](Right(0.5)), "q_boom" -> reps)
      val json = Bench.render(results)
      assert(json.contains(""""errors":{"q_boom":"RuntimeException: forced failure"""))
      assert(json.contains(""""queries":{"q_ok":0.5}"""))
      assert(json.contains(""""value":0.5"""))
      val (written, code) =
        Bench.persist(json, dir.resolve("latest.json").toString, results)
      assert(code === 1)
      assert(written.contains(dir.resolve("latest_failed.json").toString))
      assert(!java.nio.file.Files.exists(dir.resolve("latest.json")))
      val (ok, okCode) = Bench.persist("{}", dir.resolve("latest.json").toString,
        Seq("q_ok" -> Seq[Bench.Rep](Right(0.5))))
      assert(okCode === 0 && ok.contains(dir.resolve("latest.json").toString))
    } finally Bench.deleteRecursively(dir)
  }

  test("measure deletes the rep scratch after every rep") {
    // a scale op (lake_bulk_orders) commits a whole lake there per rep
    val dir = tempDir("graft_bench_spec")
    try {
      val data = dir.resolve("data").toString
      val scratch = Bench.repScratch(data)
      var leftovers = 0
      val reps = Bench.measure(TestSession.spark, (s, d) => {
        val root = Bench.repScratch(d)
        if (java.nio.file.Files.exists(root)) leftovers += 1
        java.nio.file.Files.createDirectories(root.resolve("lake"))
        s.range(10).toDF()
      }, data)
      assert(reps.size >= 3 && reps.forall(_.isRight))
      assert(leftovers === 0, "each rep starts without the previous rep's writes")
      assert(!java.nio.file.Files.exists(scratch))
    } finally Bench.deleteRecursively(dir)
  }

  test("without a runnable java, in-process calibration is tagged and never the minimum") {
    val measured = Bench.pipelined("queries", "/nonexistent",
      Seq(Bench.CalibName, "q1", s"${Bench.CalibIoName}_end"),
      canFork = false, _ => (Some(0.1), Seq[Bench.Rep](Right(1.0))))
    assert(measured.map(_._1) === Seq(s"${Bench.CalibName}${Bench.InprocSuffix}",
      "q1", s"${Bench.CalibIoName}_end${Bench.InprocSuffix}"))
    val json = Bench.render(measured.map { case (n, _, r) => n -> r })
    assert(json.contains(""""calibration_runs":[1.0]"""))
    assert(!json.contains(""""calibration":""") && !json.contains(""""calibration_io":"""))
  }

  test("scale output: ratio for ops green at both dirs, errors carry the reason otherwise") {
    val json = Bench.renderScale("d1", "d10",
      Seq(Bench.CalibName -> Seq[Bench.Rep](Right(2.0)),
        "op_ok" -> Seq[Bench.Rep](Right(1.0), Right(0.8)),
        "op_half" -> Seq[Bench.Rep](Right(2.0)),
        "op_dead" -> Seq[Bench.Rep](Left("boom1"))),
      Seq(Bench.CalibName -> Seq[Bench.Rep](Right(2.5)),
        "op_ok" -> Seq[Bench.Rep](Right(1.6)),
        "op_half" -> Seq[Bench.Rep](Left("OutOfMemoryError: heap"), Left("again")),
        "op_dead" -> Seq[Bench.Rep](Left("boom2"))))
    assert(!json.contains("\n"), "one line")
    assert(json.startsWith("""{"dir1":"d1","dirN":"d10","""))
    assert(json.contains(""""op_ok":{"x1":0.8,"xN":1.6,"ratio":2.00}"""))
    assert(json.contains(""""op_half":{"x1":2.0,"xN":null,"ratio":null}"""))
    assert(json.contains(""""op_half":"xN: OutOfMemoryError: heap; again""""))
    assert(json.contains(""""op_dead":"x1: boom1 | xN: boom2""""))
    assert(!json.contains(""""op_ok":"x"""), "a green op has no errors entry")
    assert(json.contains(
      """"calibration":{"x1":{"calibration":2.0,"calibration_runs":[2.0]},""" +
        """"xN":{"calibration":2.5,"calibration_runs":[2.5]}}"""))
    assert(!json.contains(""""calibration_fixed":{"x1""""),
      "instruments are not listed as ops")
  }
}
