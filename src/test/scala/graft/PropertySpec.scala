package graft

import graft.ir._
import graft.ir.Dsl._
import graft.ops.PointInTimeJoin
import graft.planner.QueryPlanner
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests for the filter/join algebra and the PIT join
  * (SURVEY §5 plan: scalacheck over the operator algebra).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling driver (scalatestplus bridge unavailable in
    * the offline cache): evaluates the property over `n` seeded samples.
    */
  private def forSamples[A](gen: Gen[A], n: Int = 15)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val rowsGen: Gen[List[(Long, Double, String)]] =
    Gen.listOfN(40, for {
      k <- Gen.choose(0L, 8L)
      x <- Gen.choose(-100.0, 100.0)
      s <- Gen.oneOf("a", "b", "c", "d")
    } yield (k, x, s))

  test("property: compiled filter trees match in-memory predicate evaluation") {
    val g = for {
      rows <- rowsGen; thr <- Gen.choose(-50.0, 50.0)
      sv <- Gen.oneOf("a", "b", "c")
    } yield (rows, thr, sv)
    forSamples(g) { case (rows, thr, sv) =>
        if (rows.nonEmpty) {
          val df = rows.toDF("k", "x", "s")
          val fe = (("x" > thr) && ("s" =!= sv)) ||
            (("k" in Seq(0L, 1L, 2L)) && ("s" like "a%"))
          val got = df.filter(QueryPlanner.compileFilter(df, fe))
            .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
            .toSet
          val want = rows.filter { case (k, x, s) =>
            (x > thr && s != sv) || (Seq(0L, 1L, 2L).contains(k) && s.startsWith("a"))
          }.toSet
          assert(got === want)
        }
    }
  }

  private val pitGen = for {
    spine <- Gen.listOfN(25, for {
      k <- Gen.choose(0L, 4L); t <- Gen.choose(0L, 50L)
    } yield (k, t))
    right <- Gen.listOfN(25, for {
      k <- Gen.choose(0L, 4L); t <- Gen.choose(0L, 50L)
      v <- Gen.choose(0, 1000)
    } yield (k, t, v))
  } yield (spine, right)

  test("property: PIT join equals brute-force latest-≤-t semantics") {
    forSamples(pitGen) { case (spineRows, rightRows) =>
      if (spineRows.nonEmpty) {
        val spine = spineRows.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("sid", "k", "t")
        // dedupe (k,t) on the right so the winner is unique (tie-break
        // among equal (k,t) is precombine order, exercised elsewhere)
        val rightD = rightRows.groupBy(r => (r._1, r._2))
          .map(_._2.maxBy(_._3)).toList
        val right = rightD.toDF("k", "t", "v")

        val got = PointInTimeJoin
          .asOf(spine, "t", right, "t", Seq("k"), Seq("k"), prefix = "r_")
          .collect()
          .map(r => r.getAs[Long]("sid") ->
            (if (r.isNullAt(r.fieldIndex("r_v"))) None
             else Some(r.getAs[Int]("r_v"))))
          .toMap

        val want = spineRows.zipWithIndex.map { case ((k, t), i) =>
          i.toLong -> rightD.filter(r => r._1 == k && r._2 <= t)
            .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
        }.toMap

        assert(got === want)
      }
    }
  }

  test("property: exact dedup output is a minimal distinct cover") {
    forSamples(rowsGen, n = 10) { rows =>
      if (rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((k, x, s), i) => (i.toLong, s) }.toDF("id", "s")
        val out = graft.ops.Dedup.exact(df, "id", Seq("s")).collect()
        val distinctS = rows.map(_._3).distinct.size
        assert(out.length === distinctS)
        // survivor is the smallest id of its group
        val firstIdx = rows.map(_._3).zipWithIndex
          .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2.toLong).min }
        out.foreach { r =>
          assert(firstIdx(r.getAs[String]("s")) === r.getAs[Long]("id"))
        }
      }
    }
  }

  test("exact dedup survives total hash collision (content comparison)") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "gamma"))
      .toDF("id", "text")
    // force every row into one hash bucket: distinct contents must still
    // all survive, duplicates still collapse to the smallest id
    val out = graft.ops.Dedup.exactImpl(df, "id", Seq("text"), lit(0L))
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 4L))
  }

  test("property: lake state machine matches an in-memory model") {
    import graft.sources.Lake
    val opsGen = Gen.listOfN(5, for {
      del <- Gen.oneOf(false, false, true) // deletes less frequent
      keys <- Gen.nonEmptyListOf(Gen.choose(0L, 6L)).map(_.distinct.take(4))
      tag <- Gen.choose(0, 999)
    } yield (del, keys, tag))

    forSamples(opsGen, n = 5) { ops =>
      val fs = new graft.catalog.FeatureStore(spark, warehouseDir =
        tempDir("graft_prop_lake").toString)
      val init = Seq((0L, "init0"), (1L, "init1")).toDF("id", "v")
      val fg = fs.createFeatureGroup("m", init, primaryKey = Seq("id"))
      val root = fg.source.asInstanceOf[graft.model.LakeSource].root

      var model = Map(0L -> "init0", 1L -> "init1")
      var history = List(Lake.listCommits(spark, root).last -> model)

      ops.foreach { case (del, keys, tag) =>
        if (del) {
          fs.delete(fg, keys.toDF("id"))
          model = model -- keys
        } else {
          val rows = keys.map(k => (k, s"v$tag-$k"))
          fs.insert(fg, rows.toDF("id", "v"))
          model = model ++ rows.map { case (k, v) => k -> v }
        }
        history ::= Lake.listCommits(spark, root).last -> model
      }

      // final snapshot matches the model
      val got = fs.read(Query.selectAll(fg)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === model)

      // as-of every commit reproduces each historical state
      history.foreach { case (t, m) =>
        val at = Lake.snapshot(spark, root, fg, Some(t)).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(at === m, s"as-of $t")
      }

      // a one-key keyed read, which skips commits by their key filters,
      // finds each key's state at the head and as of every commit
      ((None -> model) :: history.map { case (t, m) => Some(t) -> m }).foreach {
        case (asOf, m) => (0L to 6L).foreach { k =>
          val got = Lake.snapshot(spark, root, fg, asOf, Some(Seq(k).toDF("id")))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(got === m.filter(_._1 == k), s"key $k as of $asOf")
        }
      }

      // every key at once, read on the driver in no Spark job, equals the
      // join-form oracle at the head and as of every commit, and at the
      // head after a squash replaces the commits
      val all = (0L to 6L).toDF("id")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      def oracle(asOf: Option[Long]) =
        pairs(Lake.snapshot(spark, root, fg, asOf).join(all, Seq("id"), "left_semi"))
      def driverRead(asOf: Option[Long]) = {
        val (got, jobs, _) = observed(pairs(Lake.snapshot(spark, root, fg, asOf, Some(all))))
        assert(jobs === 0, s"as of $asOf")
        got
      }
      (None :: history.map(h => Some(h._1))).foreach { asOf =>
        assert(driverRead(asOf) === oracle(asOf), s"all keys as of $asOf")
      }
      Lake.compact(spark, root, fg)
      assert(driverRead(None) === oracle(None) && oracle(None) === model, "after a squash")
    }
  }

  test("property: token count matches in-memory tokenization") {
    val textGen = Gen.listOfN(12, Gen.oneOf("alpha", "b", "gamma42", "", " ",
      "x-y", "THE")).map(_.mkString(" "))
    forSamples(Gen.listOfN(15, textGen), n = 5) { texts =>
      val df = texts.toDF("t")
      val got = df.select(
        graft.ops.TextAnalysis.tokenCount(col("t")).as("n"))
        .collect().map(_.getInt(0)).toList
      val want = texts.map(_.split("\\s+").count(_.nonEmpty))
      assert(got === want)
    }
  }

  test("property: random split partitions the input exactly") {
    val g2 = for { rows <- rowsGen; seed <- Gen.choose(1L, 999L) } yield (rows, seed)
    forSamples(g2, n = 8) { case (rows, seed) =>
      if (rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case (_, i) => i.toLong }.toDF("id")
        val splits = graft.ops.Splits.random(df,
          Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), seed)
        val all = splits.values.map(_.select("id").as[Long].collect().toSet)
        assert(all.map(_.size).sum === rows.size)       // disjoint cover
        assert(all.reduce(_ ++ _).size === rows.size)
      }
    }
  }

  test("property: duplicateClusters matches brute-force union-find") {
    val edgesGen = Gen.listOfN(60, for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
    } yield (a, b))
    forSamples(edgesGen, n = 6) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      if (real.nonEmpty) {
        val got = graft.ops.Dedup.duplicateClusters(real.toDF("idA", "idB"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // union-by-min reference: the root of a component is its min id
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        real.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = real.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        assert(got == want)
      }
    }
  }

  test("property: fused CC round ≡ r13 round; large-star output is oriented") {
    // the r14 fused round (ccSmallStarOriented ∘ ccLargeStar) must emit
    // the exact edge SET of the r13 round (ccSmallStar ∘ ccLargeStar) on
    // any graph — the fusion only changes partitioning and where dedup
    // happens — and its precondition (large-star output strictly u > v,
    // because m(u) ≤ u < v) must hold row-for-row
    val edgesGen = Gen.listOfN(40, for {
      a <- Gen.choose(0L, 20L)
      b <- Gen.choose(0L, 20L)
    } yield (a, b))
    forSamples(edgesGen, n = 4) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      if (real.nonEmpty) {
        val e = real.toDF("u", "v")
        val large = graft.ops.Dedup.ccLargeStar(e)
        assert(large.filter(col("u") <= col("v")).count() === 0L,
          "large-star output must be strictly oriented u > v")
        val fused = graft.ops.Dedup.ccSmallStarOriented(large)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val r13 = graft.ops.Dedup.ccSmallStar(large)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(fused === r13)
      }
    }
  }

  test("property: tokenBudgetBins is exhaustive, contiguous, capacity-bounded") {
    val g = for {
      n <- Gen.choose(50, 300)
      budget <- Gen.choose(200L, 2000L)
    } yield (n, budget)
    forSamples(g, n = 4) { case (n, budget) =>
      val df = (0 until n).map { i =>
        (i.toLong, (i * 131 % 97 + 1).toLong)
      }.toDF("id", "tokens")
      val ok = pmod(xxhash64(col("id")), lit(1L << 52))
      val rows = graft.ops.Sharding.tokenBudgetBins(df, "id", "tokens",
          budget, ok, nBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.length == n, "every row must be assigned a bin")
      val bins = rows.map(_._2).distinct.sorted
      assert(bins.head == 0L && bins.last == bins.length - 1,
        s"bins must be contiguous from 0: ${bins.toSeq}")
      // a bin holds rows whose exclusive prefix lies in [k·b, (k+1)·b),
      // so its token sum is < budget + its own largest document
      rows.groupBy(_._2).foreach { case (b, rs) =>
        val sum = rs.map(_._3).sum
        val maxDoc = rs.map(_._3).max
        assert(sum < budget + maxDoc,
          s"bin $b holds $sum tokens > budget $budget + maxDoc $maxDoc")
      }
    }
  }

  test("exactRandom: exact sizes, disjoint, exhaustive, stable across jobs") {
    // many source partitions + each split collected as its OWN job: the
    // rank assignment must be a pure function of the data, identical on
    // every lineage recomputation, or rows drop/duplicate across splits
    val df = spark.range(0, 10007).toDF("id").repartition(16)
    val weights = Map("train" -> 0.8, "test" -> 0.1, "validation" -> 0.1)
    val splits = graft.ops.Splits.exactRandom(df, weights, seed = 7L)
    val sizes = splits.map { case (k, d) => k -> d.count() }
    assert(sizes("train") === math.round(0.8 * 10007))
    assert(sizes("test") === math.round(0.1 * 10007))
    assert(sizes.values.sum === 10007L)
    val sets = splits.map { case (k, d) =>
      k -> d.select("id").as[Long].collect().toSet
    }
    assert(sets.values.map(_.size).sum === 10007)       // disjoint
    assert(sets.values.reduce(_ ++ _).size === 10007)   // exhaustive
    // re-collecting a split (a fresh job over the same lineage) must give
    // the exact same membership
    val again = splits("test").select("id").as[Long].collect().toSet
    assert(again === sets("test"))
  }
}
