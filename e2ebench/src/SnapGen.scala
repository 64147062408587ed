package e2ebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of SNAP ego-network inputs in the five text formats
  * `graft.snap.SnapSource` parses (FIXTURES.md §1).
  *
  * It writes the ten ego ids of the real data set, each sized like its real
  * counterpart (friends, undirected friend pairs, feature names, `.feat`
  * rows, circles), and builds in the shapes the pipeline relies on:
  *  - every friend pair listed in both directions, plus some duplicated lines;
  *  - `.feat` rows for ids that are not friends (never become vertices);
  *  - the `hometown;id` and `education;school;id` keys drawn from small value
  *    pools, so the hypothesis proof has equal pairs to count; ego 3980 has
  *    no `hometown;id` feature, so its hypothesis set is empty;
  *  - a small friend component detached from the rest of each network;
  *  - overlapping circles, each listing its members once, as a set.
  */
object SnapGen {
  final case class EgoSize(ego: Int, friends: Int, pairs: Int, featnames: Int,
      featRows: Int, circles: Int)

  /** FIXTURES.md per-ego sizes; pairs = `.edges` lines / 2. */
  val RealSizes: Seq[EgoSize] = Seq(
    EgoSize(0, 333, 2519, 224, 347, 24), EgoSize(107, 1034, 26749, 576, 1045, 9),
    EgoSize(348, 224, 3192, 161, 227, 14), EgoSize(414, 150, 1693, 105, 159, 7),
    EgoSize(686, 168, 1656, 63, 170, 14), EgoSize(698, 61, 270, 48, 66, 13),
    EgoSize(1684, 786, 14024, 319, 792, 17), EgoSize(1912, 747, 30025, 480, 755, 46),
    EgoSize(3437, 534, 4813, 262, 547, 32), EgoSize(3980, 52, 146, 42, 59, 17))

  /** The ego whose hypothesis set is empty (no `hometown;id` feature). */
  val NoHypothesisEgo = 3980

  /** Every size divided by `div`, kept large enough for each shape above. */
  def scaled(div: Int): Seq[EgoSize] = RealSizes.map { s =>
    val f = math.max(12, s.friends / div)
    EgoSize(s.ego, f, math.max(f + 4, math.min(s.pairs / div, f * (f - 1) / 4)),
      math.max(30, s.featnames / div), f + math.max(2, (s.featRows - s.friends) / div),
      math.max(3, s.circles / div))
  }

  private val Categories = Seq(
    "birthday", "education;classes;id", "education;concentration;id",
    "education;degree;id", "education;school;id", "education;type",
    "education;with;id", "education;year;id", "first_name", "gender",
    "hometown;id", "languages;id", "last_name", "locale", "location;id",
    "work;employer;id", "work;end_date", "work;location;id", "work;position;id",
    "work;start_date", "work;with;id", "political", "religion", "name",
    "work;projects;id", "education;classes;from;id", "work;from;id")

  /** Writes `<ego>.{edges,feat,featnames,egofeat,circles}` for every size
    * into `dir`. */
  def write(dir: Path, seed: Long, sizes: Seq[EgoSize]): Unit = {
    Files.createDirectories(dir)
    sizes.foreach(s => writeEgo(dir, new SplittableRandom(seed * 1000003L + s.ego), s))
  }

  private def writeEgo(dir: Path, rnd: SplittableRandom, s: EgoSize): Unit = {
    // Friend ids: distinct, increasing with random gaps, never the ego id.
    val ids = Iterator.iterate(s.ego + 1 + rnd.nextInt(3))(_ + 1 + rnd.nextInt(3))
      .take(s.friends + (s.featRows - s.friends)).toArray
    val friends = ids.take(s.friends)
    val nonFriends = ids.drop(s.friends)

    // Pairs: the last `detached` friends form their own component; the rest
    // is a random tree (so every friend has an edge) plus extra pairs drawn
    // with Pareto endpoint weights (tail index ~2.9): a skewed,
    // social-looking degree spread whose variance stays finite, so the
    // wedge volume, and the cost, change little from seed to seed.
    val detached = 3
    val main = s.friends - detached
    val pairs = mutable.LinkedHashSet.empty[(Int, Int)]
    def add(a: Int, b: Int): Boolean =
      a != b && pairs.add((math.min(friends(a), friends(b)), math.max(friends(a), friends(b))))
    (1 until main).foreach(i => add(i, rnd.nextInt(i)))
    add(main, main + 1); add(main + 1, main + 2)
    val weight = Array.tabulate(main)(_ => math.pow(1.0 - rnd.nextDouble(), -0.35))
    val cum = weight.scanLeft(0.0)(_ + _).tail
    def pick(): Int = {
      val x = rnd.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      math.min(main - 1, if (i >= 0) i else -i - 1)
    }
    while (pairs.size < s.pairs) add(pick(), pick())

    val lines = mutable.ArrayBuffer.empty[String]
    pairs.foreach { case (a, b) => lines += s"$a $b"; lines += s"$b $a" }
    val shuffled = shuffle(lines.toSeq, rnd)
    val dups = (0 until math.max(2, shuffled.size / 100)).map(_ => shuffled(rnd.nextInt(shuffled.size)))
    writeLines(dir.resolve(s"${s.ego}.edges"), shuffle(shuffled ++ dups, rnd))

    // Feature names: every category at least once where possible, the two
    // hypothesis keys with small value pools, the rest spread at random.
    val cats = Categories.filterNot(c => s.ego == NoHypothesisEgo && c == "hometown;id")
    val pool = Seq.fill(4)("hometown;id") ++ Seq.fill(3)("education;school;id")
    val keys = (pool.filter(cats.contains) ++ cats ++
      Seq.fill(s.featnames)(cats(rnd.nextInt(cats.size)))).take(s.featnames)
    writeLines(dir.resolve(s"${s.ego}.featnames"),
      keys.zipWithIndex.map { case (k, i) => s"$i $k;anonymized feature $i" })

    val byKey = keys.zipWithIndex.groupMap(_._1)(_._2)
    def bits(): String = {
      val b = Array.fill(keys.size)("0")
      byKey.foreach { case (k, idx) =>
        val hyp = k == "hometown;id" || k == "education;school;id"
        if (hyp || rnd.nextInt(3) == 0) b(idx(rnd.nextInt(idx.size))) = "1"
        // A second value for the same key now and then: last one wins.
        if (!hyp && idx.size > 1 && rnd.nextInt(20) == 0) b(idx(rnd.nextInt(idx.size))) = "1"
      }
      b.mkString(" ")
    }
    writeLines(dir.resolve(s"${s.ego}.feat"),
      shuffle(friends.toSeq ++ nonFriends, rnd).map(id => s"$id ${bits()}"))
    writeLines(dir.resolve(s"${s.ego}.egofeat"), Seq(bits()))

    // Circles: member sets drawn from the friends (plus the odd non-friend,
    // which the overlay drops); circle k+1 reuses part of circle k.
    var prev = Seq.empty[Int]
    val circleLines = (0 until s.circles).map { k =>
      val size = 1 + rnd.nextInt(math.max(1, s.friends / 4))
      val fresh = Seq.fill(size)(friends(rnd.nextInt(friends.length)))
      val carried = prev.filter(_ => rnd.nextBoolean())
      val odd = if (nonFriends.nonEmpty && rnd.nextInt(4) == 0) Seq(nonFriends.head) else Nil
      val members = (carried ++ fresh ++ odd).distinct
      prev = members
      (s"circle$k" +: members.map(_.toString)).mkString("\t")
    }
    writeLines(dir.resolve(s"${s.ego}.circles"), circleLines)
  }

  private def shuffle[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.writeString(p, lines.mkString("", "\n", "\n"))

  /** Plain-Scala reference figures for one ego, read back from the written
    * `.edges` file: (node count, edge count, clustering coefficient per
    * friend) by the formulas of SURVEY.md §2.3. */
  def reference(dir: Path, ego: Int): (Long, Long, Map[String, Double]) = {
    val adj = mutable.HashMap.empty[String, mutable.HashSet[String]]
    val pairs = mutable.HashSet.empty[(String, String)]
    Files.readAllLines(dir.resolve(s"$ego.edges")).forEach { l =>
      val p = l.split(' ')
      if (p.length >= 2 && p(0) != p(1)) {
        pairs += (if (p(0) < p(1)) (p(0), p(1)) else (p(1), p(0)))
        adj.getOrElseUpdate(p(0), mutable.HashSet.empty) += p(1)
        adj.getOrElseUpdate(p(1), mutable.HashSet.empty) += p(0)
      }
    }
    val cc = adj.map { case (v, nb) =>
      val deg = nb.size.toLong
      // Friend-friend edges with both endpoints adjacent to v.
      val eff = nb.toSeq.map(u => adj(u).count(nb.contains).toLong).sum / 2
      v -> (eff + deg).toDouble / ((deg + 1) * deg / 2.0)
    }.toMap
    (adj.size + 1L, pairs.size.toLong + adj.size, cc)
  }
}
