package graft.operators

/** Seeded adversarial edge lists over small dense labels, shared by the
  * route differential specs; each spec maps the labels to the id space
  * under test. Duplicate and reversed edges and self-loops ride along.
  */
object RouteGraphs {

  def apply(rnd: scala.util.Random): Seq[(String, Seq[(Int, Int)])] = {
    def random(n: Int, m: Int): Seq[(Int, Int)] = {
      val es = Seq.fill(m)((rnd.nextInt(n), rnd.nextInt(n)))
      es ++ es.take(m / 4) ++ es.take(m / 4).map(_.swap) ++
        Seq.fill(3) { val x = rnd.nextInt(n); (x, x) }
    }
    val star = (1 to 12).map(l => (0, l))
    // templates with 1–3 clones each: every clone carries exactly its
    // template's neighbor set (jaccard-1.0 pairs between identical rows)
    val base = random(30, 60).filter(e => e._1 != e._2)
    val nbrs = base.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (x, es) => x -> es.map(_._2).distinct }
    var next = 100
    val clones = nbrs.toSeq.sortBy(_._1).take(8).flatMap { case (_, ns) =>
      (0 to rnd.nextInt(3)).flatMap { _ => next += 1; ns.map(y => (next, y)) }
    }
    // hubs 0 and 1 share 6 leaves: many leaf pairs tie at 2/2 = 1.0 and
    // at 2/3, so every cut below the candidate count lands on a tie
    val ties = (2 to 7).flatMap(l => Seq((0, l), (1, l))) ++
      Seq((2, 20), (3, 21), (4, 22))
    Seq(
      "empty" -> Seq.empty,
      "self-loops only" -> Seq((3, 3), (4, 4)),
      "random sparse" -> random(40, 70),
      "random dense" -> random(14, 60),
      "star" -> (star ++ star.map(_.swap)),
      "clone fans" -> (base ++ clones),
      "ties at the cut" -> ties)
  }
}
