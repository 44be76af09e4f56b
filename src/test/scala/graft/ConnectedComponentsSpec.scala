package graft

import org.apache.spark.sql.DataFrame

import graft.cluster.ConnectedComponents

/** CC correctness vs an in-memory union-find oracle, plus convergence.
  * Every case runs on both paths: the auto mode (one union-find task at
  * these sizes) and the distributed large-star/small-star rounds, forced
  * by an explicit `roundsPerJob`. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val paths = Seq("single task" -> 0, "distributed" -> 1)

  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical root = min member id
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }.toMap
  }

  private def ccOf(edges: Seq[(Long, Long)], rpj: Int): (Map[Long, Long], Int) = {
    val df = edges.toDF("src", "dst")
    val (out, iters, _) = ConnectedComponents.runWithStats(df, roundsPerJob = rpj)
    (out.as[(Long, Long)].collect().toMap, iters)
  }

  /** Everything a CC caller sees, for comparing the two paths: the full
    * mapping, rounds-free stats, the non-root mapping, and both schemas. */
  private def observe(df: DataFrame, rpj: Int) = {
    def rows(f: DataFrame) = f.collect().map(r => (r.get(0), r.get(1))).toSet
    val (full, _, finalEdges) = ConnectedComponents.runWithStats(df, roundsPerJob = rpj)
    val mapping = ConnectedComponents.runMapping(df, roundsPerJob = rpj)
    (rows(full), finalEdges, rows(mapping), full.schema, mapping.schema)
  }

  private def assertPathsAgree(df: DataFrame): Unit = {
    val Seq(auto, dist) = paths.map { case (_, rpj) => observe(df, rpj) }
    assert(auto == dist)
  }

  test("chain graph collapses to one component") {
    val edges = (1L until 32L).map(i => (i, i + 1))
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val (got, iters) = ccOf(edges, rpj)
      assert(got.values.toSet == Set(1L))
      assert(got.size == 32)
      assert(iters <= 10, s"chain of 32 should converge in O(log n) rounds, took $iters")
    }
  }

  test("disjoint cliques stay separate") {
    val k1 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val k2 = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val (got, _) = ccOf(k1 ++ k2, rpj)
      assert(got.filter(_._1 < 10L).values.toSet == Set(1L))
      assert(got.filter(_._1 >= 10L).values.toSet == Set(10L))
    }
  }

  test("self loops and duplicate/reversed edges are harmless") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L), (7L, 7L))
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val (got, _) = ccOf(edges, rpj)
      assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
      assert(got.get(7L).forall(_ == 7L)) // isolated or absent (caller coalesces)
    }
  }

  test("runMapping equals run minus self-mappings (pipeline contract)") {
    val rng = new scala.util.Random(1717L)
    val n = 50
    val es = Seq.fill(90)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val df = es.toDF("src", "dst")
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val full = ConnectedComponents.runWithStats(df, roundsPerJob = rpj)._1
        .as[(Long, Long)].collect().toMap
      val mapping = ConnectedComponents.runMapping(df, roundsPerJob = rpj)
        .as[(Long, Long)].collect().toMap
      // mapping holds exactly the non-root rows of the full output…
      assert(mapping == full.filter { case (id, c) => id != c })
      // …so left-join + coalesce(id) over any node set reconstructs `run`
      assert(full.forall { case (id, c) => mapping.getOrElse(id, id) == c })
    }
  }

  test("random graphs match union-find oracle (seeded property test)") {
    val rng = new scala.util.Random(4242L)
    for (_ <- 1 to 4) { // each case is a full CC run per path
      val n = 2 + rng.nextInt(60)
      val m = 1 + rng.nextInt(120)
      val es = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val expected = oracle(es.filter(e => e._1 != e._2))
      for ((path, rpj) <- paths) withClue(s"[$path] ") {
        val (got, _) = ccOf(es, rpj)
        val gotReal = got.filter { case (k, _) => expected.contains(k) }
        assert(gotReal == expected, s"mismatch on edges=$es")
      }
    }
  }

  test("auto mode runs no round; final edge count is the non-root node count") {
    val es = Seq((5L, 1L), (1L, 2L), (2L, 3L), (8L, 9L), (4L, 4L))
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val (out, rounds, finalEdges) =
        ConnectedComponents.runWithStats(es.toDF("a", "b"), roundsPerJob = rpj)
      assert((rounds == 0) == (rpj == 0))
      assert(finalEdges == out.as[(Long, Long)].collect().count { case (i, c) => i != c })
      assert(finalEdges == 4L)
    }
  }

  // Spark orders strings by UTF-8 bytes: U+FFFD sorts before a
  // supplementary character, the reverse of Java's UTF-16 compareTo
  private val idPrefixes = Seq("", "a", "Z", "\uFFFD", "\uD83D\uDE00")
  private def stringId(i: Int) = idPrefixes(i % idPrefixes.size) + i

  test("single-task and distributed paths agree on generated graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test}
    val graphs = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 80)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      idType <- Gen.oneOf("long", "int", "string")
    } yield (es, idType)
    val prop = Prop.forAllNoShrink(graphs) { case (es, idType) =>
      val df = idType match {
        case "long"   => es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
        case "int"    => es.toDF("a", "b")
        case "string" => es.map { case (a, b) => (stringId(a), stringId(b)) }.toDF("a", "b")
      }
      assertPathsAgree(df)
      true
    }
    val params = Test.Parameters.default
      .withInitialSeed(20261017L).withMinSuccessfulTests(8).withWorkers(1)
    val result = Test.check(params, prop)
    assert(result.passed, result.status)
  }

  test("string ids take Spark's UTF-8 order on both paths") {
    val (lo, hi) = ("\uFFFDx", "\uD83D\uDE00y")
    val df = Seq((hi, lo), (hi, "\uD83D\uDE00z")).toDF("a", "b")
    for ((path, rpj) <- paths) withClue(s"[$path] ") {
      val got = ConnectedComponents.runMapping(df, roundsPerJob = rpj)
        .as[(String, String)].collect().toMap
      assert(got == Map(hi -> lo, "\uD83D\uDE00z" -> lo))
    }
  }

  test("an empty edge frame gives an empty result with the same schema on both paths") {
    val df = Seq.empty[(Long, Long)].toDF("a", "b")
    assertPathsAgree(df)
    assert(ConnectedComponents.runMapping(df).isEmpty)
  }

  test("a 5,000-leaf star and a 2,000-node chain agree on both paths") {
    val star = (1L to 5000L).map(i => (0L, i)).toDF("a", "b")
    assertPathsAgree(star)
    val chain = (1L until 2000L).map(i => (i + 1, i)).toDF("a", "b")
    assertPathsAgree(chain)
    val (out, _, _) = ConnectedComponents.runWithStats(chain)
    assert(out.as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("CC restores the caller's job description") {
    val sc = spark.sparkContext
    val df = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    sc.setJobDescription("caller")
    try {
      ConnectedComponents.runMapping(df)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      ConnectedComponents.runWithStats(df, roundsPerJob = 1)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
