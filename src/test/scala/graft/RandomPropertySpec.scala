package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized contract pins: the distributed implementations must agree
  * with naive in-memory references on seeded random inputs — shapes the
  * hand-written cases can't enumerate (dense tie structures, inverted
  * intervals, up-then-down component paths). Seeds are fixed: failures
  * reproduce. */
class RandomPropertySpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  test("asof join agrees with a naive latest-before scan on random data") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val events = (0 until 120).map(i => (i.toLong, rng.nextInt(5).toLong, rng.nextInt(50).toLong))
      // distinct (key, time) per fact so "latest" is unambiguous
      val facts = rng.shuffle(
        (for (k <- 0L until 5L; t <- 0L until 60L) yield (k, t)).toSeq)
        .take(80).map { case (k, t) => (k, t, s"p$k-$t") }
      val ev = events.toDF("event_id", "k", "t")
      val fa = facts.toDF("fk", "ft", "payload")
      val got = graft.ops.AsofJoin.asof(ev, fa, "k", "fk", "t", "ft", Seq("payload"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
      val want = events.map { case (id, k, t) =>
        id -> facts.filter(f => f._1 == k && f._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("forward asof agrees with a naive earliest-at-or-after scan on random data") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(40 + seed)
      val events = (0 until 120).map(i => (i.toLong, rng.nextInt(5).toLong, rng.nextInt(50).toLong))
      val facts = rng.shuffle(
        (for (k <- 0L until 5L; t <- 0L until 60L) yield (k, t)).toSeq)
        .take(80).map { case (k, t) => (k, t, s"p$k-$t") }
      val ev = events.toDF("event_id", "k", "t")
      val fa = facts.toDF("fk", "ft", "payload")
      val got = graft.ops.AsofJoin.asofForward(ev, fa, "k", "fk", "t", "ft", Seq("payload"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
      val want = events.map { case (id, k, t) =>
        id -> facts.filter(f => f._1 == k && f._2 >= t)
          .sortBy(_._2).headOption.map(_._3)
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("binnedRangeJoin agrees with the naive BETWEEN join on random intervals") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(100 + seed)
      val points = (0 until 150).map(_ => (rng.nextInt(4).toLong, rng.nextInt(200).toLong))
        .distinct.map { case (k, t) => (k, t) }
      val intervals = (0 until 40).map { i =>
        val s = rng.nextInt(220) - 10L
        val e = s + rng.nextInt(30) - 5L // ~1/6 inverted
        (rng.nextInt(5).toLong, i.toLong, s, e)
      }
      val pdf = points.toDF("k", "t")
      val idf = intervals.toDF("k", "iid", "s", "e")
      val want = (for {
        (pk, t) <- points
        (ik, iid, s, e) <- intervals
        if ik == pk && t >= s && t <= e
      } yield (iid, t)).toSet
      for (w <- Seq(1L, 16L, 1024L)) {
        val got = graft.ops.RangeJoin.binnedRangeJoin(
            pdf, idf, Seq("k"), "t", "s", "e", binWidth = w)
          .select("iid", "t").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, s"seed=$seed width=$w")
      }
    }
  }

  test("connectedComponents agrees with union-find on random graphs") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(200 + seed)
      val n = 40
      val edges = (0 until 45).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // naive union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map { i =>
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap
      val got = graft.ops.Cluster.connectedComponents(
          (0L until n.toLong).toDF("id"), "id", edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("perceptualDupPairs: subset of brute-force, superset of the pigeonhole ball, exact distances") {
    import graft.ops.Multimodal
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(500 + seed)
      // random printable payloads incl. empty and sub-grid lengths; a few
      // near-dup plants (single-char edits) so the dist<nBands ball is
      // non-empty
      val texts = (0 until 50).map { i =>
        val len = rng.nextInt(300)
        (i.toLong, (0 until len).map(_ => (32 + rng.nextInt(95)).toChar).mkString)
      }
      val planted = texts.take(8).map { case (i, t) =>
        (i + 100L, if (t.isEmpty) "" else t.updated(rng.nextInt(t.length), 'Q'))
      }
      val all = texts ++ planted
      val sigs = all.map { case (i, t) =>
        i -> graft.functions.DHash64.hash(t.getBytes("UTF-8")) }.toMap
      def dist(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      val (nBands, maxDist) = (4, 10)
      val ids = all.map(_._1)
      val brute = (for {
        a <- ids; b <- ids if a < b && dist(a, b) <= maxDist
      } yield (a, b)).toSet
      val ball = brute.filter { case (a, b) => dist(a, b) < nBands }
      val got = Multimodal.perceptualDupPairs(
          Multimodal.packBinary(all.toDF("doc_id", "t"), "doc_id", "t"),
          "doc_id", "payload", maxDist = maxDist, nBands = nBands)
        .as[(Long, Long, Int)].collect()
      // exact distances, no dupes, subset of brute force
      assert(got.map(r => (r._1, r._2)).distinct.length == got.length, s"seed=$seed")
      got.foreach { case (a, b, d) =>
        assert(a < b && d == dist(a, b) && brute((a, b)), s"seed=$seed ($a,$b,$d)") }
      // pigeonhole: EVERY pair under nBands bits apart must be found
      val gotPairs = got.map(r => (r._1, r._2)).toSet
      assert(ball.subsetOf(gotPairs),
        s"seed=$seed missed guaranteed pairs: ${(ball -- gotPairs).take(3)}")
      assert(ball.nonEmpty, s"seed=$seed: plants must land inside the ball")
    }
  }

  test("connectedComponentsStar agrees with union-find on random graphs") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(300 + seed)
      val n = 40
      val edges = (0 until 45).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map { i =>
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap
      val got = graft.ops.Cluster.connectedComponentsStar(
          (0L until n.toLong).toDF("id"), "id", edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("dividendCurve agrees with union-find pricing on random weighted graphs") {
    for (seed <- 1 to 2) {
      val rng = new scala.util.Random(400 + seed)
      val n = 30
      val pairs = (0 until 35).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong,
        math.round(rng.nextDouble() * 100) / 100.0)).filter(p => p._1 != p._2)
      val sizes = (0 until n).map(i => i.toLong -> (1L + rng.nextInt(20)))
      val thresholds = Seq(0.25, 0.5, 0.75)
      def ref(t: Double): (Long, Long, Long) = {
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
        pairs.filter(_._3 >= t).foreach { case (a, b, _) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val comp = (0 until n).map(i =>
          i -> (0 until n).filter(j => find(j) == find(i)).min).toMap
        val dups = (0 until n).filter(i => comp(i) != i)
        (dups.size.toLong, dups.map(i => sizes(i)._2).sum,
          dups.map(comp).distinct.size.toLong)
      }
      val got = graft.ops.Cluster.dividendCurve(
          (0L until n.toLong).toDF("id"), "id",
          pairs.toDF("a", "b", "j"), "a", "b", "j",
          sizes.toDF("id", "nt"), "id", "nt", thresholds)
        .collect().map(r => r.getDouble(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      for (t <- thresholds) assert(got(t) == ref(t), s"seed=$seed t=$t")
    }
  }

  test("funnel agrees with a naive chained-bounded-min reference on random streams") {
    // reference: t1 = min ts of step1; t_{i+1} = min ts of step_{i+1} in
    // (t_i, t_i + G] — the documented first-touch semantics
    def ref(evs: Seq[(Long, String)], steps: Seq[String], gapUs: Option[Long]): Int = {
      var t = Option.empty[Long]
      var r = 0
      for (step <- steps) {
        val cand = evs.filter { case (ts, e) =>
          e == step && t.forall(p => ts > p && gapUs.forall(g => ts <= p + g))
        }.map(_._1)
        if (t.isEmpty || cand.nonEmpty) {
          if (cand.isEmpty) return r // no step-1 event at all
          t = Some(cand.min); r += 1
        } else return r
      }
      r
    }
    val steps = Seq("a", "b", "c")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(7000 + seed)
      // user, ts in whole SECONDS from a narrow range — dense ts
      // collisions on purpose: ties across users AND within a user
      val rows = (0 until 400).map { _ =>
        (rng.nextInt(25).toLong, rng.nextInt(40).toLong,
          Seq("a", "b", "c", "x")(rng.nextInt(4)))
      }
      val df = rows.toDF("user_id", "tsec", "event_type")
        .withColumn("ts", timestamp_micros(col("tsec") * 1000000L))
      for (gap <- Seq(None, Some(5L), Some(1L))) {
        val got = graft.ops.Sessionize.funnel(df, "user_id", "ts", "event_type",
            steps, maxGapSeconds = gap)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val want = rows.groupBy(_._1).collect {
          case (u, es) if es.exists(e => steps.contains(e._3)) =>
            u -> ref(es.map(e => (e._2 * 1000000L, e._3)).filter(e => steps.contains(e._2)),
              steps, gap.map(_ * 1000000L))
        }.toMap
        assert(got == want, s"seed=$seed gap=$gap")
      }
    }
  }

  test("dupSpanFrac agrees with a naive cross-document n-gram scan") {
    val vocab = Seq("a", "b", "c", "d", "e")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(300 + seed)
      // tiny vocab forces heavy cross-doc 3-gram sharing; lengths 0..9
      // cover the no-gram (< n words) edge
      val docs = (0L until 40L).map(i =>
        (i, (0 until rng.nextInt(10)).map(_ => vocab(rng.nextInt(5))).mkString(" ")))
      val grams = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
          .map(_.mkString(" ")).toSeq
      }.toMap
      val docsPerGram = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (g, xs) => g -> xs.size }
      val want = grams.collect { case (id, gs) if gs.nonEmpty =>
        (id, gs.size.toLong,
          gs.count(g => docsPerGram(g) >= 2).toDouble / gs.size)
      }.toSet
      val got = graft.ops.Dedup.dupSpanFrac(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("sourceOverlap agrees with naive pairwise set Jaccard") {
    val vocab = ('a' to 'j').map(_.toString)
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(400 + seed)
      val docs = (0 until 60).map { _ =>
        (s"s${rng.nextInt(4)}",
          (0 until (1 + rng.nextInt(6))).map(_ => vocab(rng.nextInt(10))).mkString(" "))
      }
      val vocabs = docs.groupBy(_._1).map { case (s, ds) =>
        s -> ds.flatMap(_._2.split("\\s+")).filter(_.nonEmpty).toSet
      }
      val keys = vocabs.keys.toSeq.sorted
      val want = (for {
        i <- keys.indices; j <- (i + 1) until keys.size
        va = vocabs(keys(i)); vb = vocabs(keys(j))
        c = (va & vb).size if c > 0
      } yield (keys(i), keys(j), c.toLong,
        c.toDouble / (va.size + vb.size - c))).toSet
      val got = graft.ops.Corpus.sourceOverlap(docs.toDF("source", "text"), "source", "text")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("chunkDedup agrees with a naive first-occurrence scan") {
    val vocab = Seq("a", "b", "c")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(500 + seed)
      // chunk size 3 over a 3-word vocab forces heavy chunk collisions;
      // lengths 0..8 cover the empty-text and short-tail edges
      val docs = (0L until 40L).map(i =>
        (i, (0 until rng.nextInt(9)).map(_ => vocab(rng.nextInt(3))).mkString(" ")))
      def chunksOf(t: String): Seq[String] =
        t.trim.toLowerCase.split("\\s+", -1).grouped(3).map(_.mkString(" ")).toSeq
      val firsts = scala.collection.mutable.Map.empty[String, (Long, Int)]
      for ((id, t) <- docs; (c, ci) <- chunksOf(t).zipWithIndex)
        if (!firsts.contains(c)) firsts(c) = (id, ci)
      val want = docs.map { case (id, t) =>
        val cs = chunksOf(t)
        (id, cs.size.toLong,
          cs.zipWithIndex.count { case (c, ci) => firsts(c) == (id, ci) }.toLong)
      }.toSet
      val got = graft.ops.Dedup.chunkDedup(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("dsirWeights agrees with a naive integer micro-ratio model") {
    val vocab = Seq("a", "b", "c", "d")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(600 + seed)
      val docs = (0L until 30L).map(i =>
        (i, (0 until (1 + rng.nextInt(6))).map(_ => vocab(rng.nextInt(4))).mkString(" "),
          if (rng.nextBoolean()) "en" else "xx"))
      val toks = docs.flatMap { case (id, t, l) =>
        t.split("\\s+").filter(_.nonEmpty).map(w => (id, w, l == "en")) }
      val cs = toks.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
      val ct = toks.groupBy(_._2).map { case (w, xs) => w -> xs.count(_._3).toLong }
      val ts = cs.values.sum; val tt = ct.values.sum; val v = cs.size.toLong
      def q(w: String): Long =
        (1000000L * (ct(w) + 1) * (ts + v)) / ((cs(w) + 1) * (tt + v))
      val want = docs.collect { case (id, t, _) if t.split("\\s+").exists(_.nonEmpty) =>
        val ws = t.split("\\s+").filter(_.nonEmpty)
        (id, ws.length.toLong, ws.map(q).sum.toDouble / ws.length)
      }.toSet
      val got = graft.ops.Corpus.dsirWeights(
          docs.toDF("doc_id", "text", "lang"), "doc_id", "text", col("lang") === "en")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("bigramLmScore agrees with a naive add-one conditional bigram LM") {
    val vocab = Seq("a", "b", "c")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(700 + seed)
      val docs = (0L until 30L).map(i =>
        (i, (0 until rng.nextInt(7)).map(_ => vocab(rng.nextInt(3))).mkString(" ")))
      def words(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
      val bgs = docs.flatMap(d => words(d._2).sliding(2).filter(_.size == 2).map(_.mkString(" ")))
      val cb = bgs.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      val c1 = bgs.map(_.split(" ")(0)).groupBy(identity)
        .map { case (w, xs) => w -> xs.size.toLong }
      val v = bgs.flatMap(_.split(" ")).distinct.size.toLong
      def q(b: String): Long =
        (1000000L * (cb(b) + 1)) / (c1(b.split(" ")(0)) + v)
      val want = docs.collect { case (id, t) if words(t).size >= 2 =>
        val bs = words(t).sliding(2).map(_.mkString(" ")).toSeq
        (id, bs.size.toLong, bs.map(q).sum.toDouble / bs.size)
      }.toSet
      val got = graft.ops.Corpus.bigramLmScore(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("splitLeakage agrees with a naive chunk-set intersection on random corpora") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(300 + seed)
      val vocab = Seq("a", "b", "c", "d")
      def text() = Seq.fill(1 + rng.nextInt(25))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val docs = (0 until 60).map(i =>
        (i.toLong, text(), if (rng.nextInt(3) == 0) "eval" else "train"))
      def chunks(t: String): Seq[String] =
        t.toLowerCase.split("\\s+", -1).grouped(5).map(_.mkString(" ")).toSeq
      val train = docs.filter(_._3 == "train").flatMap(d => chunks(d._2)).toSet
      val want = docs.filter(_._3 != "train").map { case (id, t, s) =>
        val cs = chunks(t)
        (id, s, cs.size.toLong, cs.count(train.contains).toLong)
      }.toSet
      val got = graft.ops.Dedup.splitLeakage(
          docs.toDF("doc_id", "text", "split"), "doc_id", "text", "split", "train", 5)
        .select(col("doc_id"), col("split"), col("n_chunks"), col("n_leaked"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("bm25Score agrees with a naive in-memory Okapi scorer on random corpora") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(400 + seed)
      val vocab = Seq("x", "y", "z", "w", "v")
      def text() = Seq.fill(1 + rng.nextInt(20))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val docs = (0 until 50).map(i => (i.toLong, text()))
      val terms = Seq("x", "y")
      val toks = docs.map { case (id, t) => id -> t.split("\\s+", -1).toSeq }.toMap
      val n = docs.size.toLong
      val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
      val dfm = terms.map(t => t -> toks.values.count(_.contains(t)).toLong).toMap
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = docs.flatMap { case (id, _) =>
        val matched = terms.filter(t => toks(id).contains(t))
        if (matched.isEmpty) None else Some {
          val score = terms.map { t =>
            val tf = toks(id).count(_ == t).toLong
            if (tf == 0) 0.0
            else {
              val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
              idf * (tf * (1.2 + 1.0)) /
                (tf + 1.2 * (1.0 - 0.75 + 0.75 * toks(id).size / avgdl))
            }
          }.reduce(_ + _)
          (id, matched.size.toLong, r4(score))
        }
      }.toSet
      val got = graft.ops.Corpus.bm25Score(docs.toDF("doc_id", "text"), "doc_id", "text", terms)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("electSurvivors agrees with a naive per-component max scan on random clusters") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(500 + seed)
      val members = (0 until 80).map(i => (i.toLong, rng.nextInt(10).toLong))
      val scores = members.map { case (id, _) => (id, rng.nextInt(5).toLong) }
      val want = members.groupBy(_._2).map { case (comp, ms) =>
        val scored = ms.map { case (id, _) => (id, scores.find(_._1 == id).get._2) }
        val best = scored.maxBy { case (id, s) => (s, -id) }
        (comp, best._1, best._2, ms.size.toLong)
      }.toSet
      val got = graft.ops.Cluster.electSurvivors(
          members.toDF("id", "comp"), "id", "comp",
          scores.toDF("id", "score"), "id", "score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("calibrateScores agrees with naive percent_rank on random grouped scores") {
    // heavy ties + null groups + singleton groups: the tally-table
    // prefix-sum ranks must replay (# strictly smaller)/(n-1) exactly
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(900 + seed)
      val rows = (0 until 300).map { i =>
        val g = if (rng.nextInt(20) == 0) null
          else s"g${rng.nextInt(5)}"
        (i.toLong, g, rng.nextInt(8).toDouble / 2.0)
      }
      val want = rows.groupBy(_._2).flatMap { case (_, ms) =>
        val n = ms.size
        ms.map { case (id, _, s) =>
          val smaller = ms.count(_._3 < s)
          id -> (if (n == 1) 0.0 else smaller.toDouble / (n - 1).toDouble)
        }
      }
      val got = graft.ops.Stats.calibrateScores(
          rows.toDF("id", "grp", "s"), "grp", "s")
        .select(col("id"), col("s_cal")).as[(Long, Double)].collect().toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("range-scan operators survive degenerate inputs and agree with their naive models") {
    import org.apache.spark.sql.DataFrame
    import graft.ops.{BudgetSelect, CacheScope, IdAssign, Stats, TextAnalysis}
    case class R(id: Long, g: Option[String], v: Option[Long])
    val rng = new scala.util.Random(1200)
    val inputs = Seq(
      "empty" -> Seq.empty[R],
      "single row" -> Seq(R(1L, Some("a"), Some(3L))),
      "all-null measure" -> (1L to 6L).map(i =>
        R(i, if (i % 3 == 0) None else Some(s"g${i % 2}"), None)),
      "one hot group" -> (1L to 4000L).map(i => R(i, Some("hot"), Some(1L + rng.nextInt(9)))))
    // the measure v doubles as a token count: text is v words, null with v
    def frame(rows: Seq[R]): DataFrame =
      rows.map(r => (r.id, r.g, r.v, r.v.map(n => Seq.fill(n.toInt)("w").mkString(" "))))
        .toDF("id", "g", "v", "text").repartition(5)
    def cost(r: R) = r.v.getOrElse(0L)
    def half(rows: Seq[R]) = rows.map(cost).sum / 2
    def groupBudgets(rows: Seq[R]) =
      rows.filter(_.g.isDefined).groupBy(_.g.get).map { case (g, rs) => g -> half(rs) }
    def ranked(rows: Seq[R]) = rows.map(r => (r.id, r.id, cost(r)))
    // nulls sort first, as in Spark's ascending order
    def before(a: Option[Long], b: Option[Long]) =
      b.exists(y => a.forall(_ < y))
    def packed(rows: Seq[R]) = {
      var off = 0L
      rows.sortBy(_.id).map { r => val o = off; off += cost(r); (r.id, r.v, o) }
    }
    def ids(df: DataFrame) = df.select("id").as[Long].collect().toSet
    def spans(df: DataFrame) =
      df.select(col("id"), col("n_tokens"), col("start_off")).as[(Long, Option[Long], Long)]
        .collect().toSet
    val qs = Seq(0.25, 0.5, 1.0)
    case class Op(name: String, run: (DataFrame, Seq[R], CacheScope) => DataFrame,
                  read: DataFrame => Any, model: Seq[R] => Any)
    val ops = Seq(
      Op("IdAssign.withDenseId", (df, _, s) => IdAssign.withDenseId(df, "dense", 10L, s, col("id")),
        _.select("id", "dense").as[(Long, Long)].collect().toMap,
        _.map(_.id).sorted.zipWithIndex.map { case (id, i) => id -> (11L + i) }.toMap),
      Op("BudgetSelect.selectByBudget",
        (df, rows, s) => BudgetSelect.selectByBudget(df, "v", half(rows), s, col("id")),
        ids, rows => BudgetSelectSpec.naive(ranked(rows), half(rows))),
      Op("BudgetSelect.selectByBudgetPerGroup",
        (df, rows, s) => BudgetSelect.selectByBudgetPerGroup(df, "g", "v", groupBudgets(rows), s,
          col("id")),
        ids, rows => rows.groupBy(_.g).flatMap { case (g, rs) =>
          BudgetSelectSpec.naive(ranked(rs), g.flatMap(groupBudgets(rows).get).getOrElse(0L))
        }.toSet),
      Op("Stats.ksDistance", (df, _, s) => Stats.ksDistance(df, "v", col("id") % 2 === 0, s),
        _.as[(Long, Long, Long, Double)].collect().toSeq,
        rows => {
          val xs = rows.flatMap(r => r.v.map(v => (v, r.id % 2 == 0)))
          val na = xs.count(_._2).toLong
          val nb = xs.size - na
          if (na == 0L || nb == 0L) Seq.empty else {
            var (ca, cb, best) = (0L, 0L, 0L)
            for (v <- xs.map(_._1).distinct.sorted) {
              ca += xs.count(x => x._1 == v && x._2)
              cb += xs.count(x => x._1 == v && !x._2)
              best = math.max(best, math.abs(ca * nb - cb * na))
            }
            Seq((na, nb, best, best.toDouble / (na * nb).toDouble))
          }
        }),
      Op("Stats.calibrateScores", (df, _, s) => Stats.calibrateScores(df, "g", "v", s),
        _.select(col("id"), col("v_cal")).as[(Long, Double)].collect().toMap,
        _.groupBy(_.g).flatMap { case (_, ms) =>
          val n = ms.size
          ms.map { r =>
            val smaller = ms.count(o => before(o.v, r.v))
            r.id -> (if (n == 1) 0.0 else smaller.toDouble / (n - 1).toDouble)
          }
        }),
      Op("Stats.weightedQuantiles",
        (df, _, s) => Stats.weightedQuantiles(df.withColumn("x", col("id").cast("double")),
          "g", "x", "v", qs, s),
        _.as[(String, Double, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap,
        rows => ShardCalibSpec.wqModel(
          rows.collect { case R(id, g, Some(w)) => (g.orNull, id.toDouble, w) }, qs)),
      Op("TextAnalysis.sequencePack", (df, _, s) => TextAnalysis.sequencePack(df, "id", "text", 4, s),
        spans, rows => packed(rows).toSet),
      Op("TextAnalysis.groupedSequencePack",
        (df, _, s) => TextAnalysis.groupedSequencePack(df, "id", "text", "g", 4, s),
        spans, _.groupBy(_.g).values.flatMap(packed).toSet))
    // AQE would coalesce the small range exchanges to one partition; the
    // hot group must spread over the full multi-partition exchange
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions").toInt > 1)
      for ((input, rows) <- inputs; op <- ops) CacheScope.withScope { scope =>
        val out = op.run(frame(rows), rows, scope)
        if (rows.isEmpty) assert(out.count() == 0, s"${op.name}: empty input, non-empty output")
        assert(op.read(out) == op.model(rows), s"${op.name} on $input")
      }
    } finally spark.conf.set(key, old)
  }
}
