package graft

/** An independent best-first tabu beam search in plain Scala: the test
  * reference for the graph probe. It takes the graph as collected
  * `(src, dst)` edges and the query as a map of every corpus id to its
  * distance from the query (computed once by the engine), and shares no
  * code with the production probe.
  *
  * Entry: the `beam` best corpus ids divisible by `stride`. Each round
  * stops the search once every node of the current top-k has been
  * expanded (from the second round on); otherwise it expands the best
  * `beam` visited nodes not expanded yet, adding every out-neighbor not yet
  * visited. At most `rounds` rounds run. Ranking is (distance asc, NULL
  * last, NaN after every number, then id asc).
  */
object ReferenceBeamSearch {

  /** The top-k `(id, distance)` rows in rank order, and the rounds run. */
  final case class Result(rows: Seq[(Long, Option[Double])], rounds: Int)

  private val byRank: Ordering[(Long, Option[Double])] =
    Ordering.by[(Long, Option[Double]), (Boolean, Double, Long)] {
      case (id, d) => (d.isEmpty, d.getOrElse(0.0), id)
    }(Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering, Ordering.Long))

  def apply(edges: Seq[(Long, Long)], dist: Map[Long, Option[Double]],
      stride: Int, k: Int, beam: Int, rounds: Int): Result = {
    val out: Map[Long, Seq[Long]] = edges.groupMap(_._1)(_._2)
    val visited = scala.collection.mutable.Map.empty[Long, Option[Double]]
    dist.toSeq.filter(_._1 % stride == 0).sorted(byRank).take(beam)
      .foreach(visited += _)
    val expanded = scala.collection.mutable.Set.empty[Long]
    def best: Seq[(Long, Option[Double])] = visited.toSeq.sorted(byRank)
    var executed = 0
    var stop = rounds == 0
    while (!stop) {
      val converged = executed > 0 && best.take(k).forall(e => expanded(e._1))
      val frontier = best.map(_._1).filterNot(expanded).take(beam)
      if (converged || frontier.isEmpty) stop = true
      else {
        expanded ++= frontier
        for (n <- frontier; m <- out.getOrElse(n, Nil) if !visited.contains(m))
          visited(m) = dist(m)
        executed += 1
        stop = executed == rounds
      }
    }
    Result(best.take(k), executed)
  }
}
