package graft.perfbench

import DedupScaled.Exec

/** Per-layer metrics of `dedup_scaled`: Spark task spans inside each
  * query's window, and the yield and recall of the LSH queries. */
object DedupLayers {

  def derive(spans: Seq[Span], execs: Seq[Exec], candidates: Map[String, Long],
      ref: Corpus.Reference): Map[String, Double] = {
    val tasks = spans.filter(_.name == "spark.task").sortBy(_.startMs)
    def window(e: Exec) = tasks.filter(t => t.startMs >= e.startMs && t.startMs <= e.endMs)
    val planted = ref.corpus.nearPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    execs.groupBy(_.query).toSeq.flatMap { case (q, es) =>
      def med(f: Exec => Double) = Stats.median(es.map(f))
      def sum(e: Exec, k: String) = window(e).map(_.attr(k)).sum
      val base = Seq(
        s"$q.wall_s" -> med(_.ms / 1000.0),
        s"$q.shuffle_write_mb" -> med(sum(_, "shuffle_write_bytes") / 1e6),
        s"$q.spill_mb" -> med(sum(_, "spill_bytes") / 1e6),
        s"$q.no_task_s" -> med(e =>
          (e.ms - Stats.covered(window(e).map(t => (t.startMs, t.endMs)), e.startMs, e.endMs)) / 1000.0))
      val lsh = candidates.get(q).toSeq.flatMap { cand =>
        val found = es.head.rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        Seq(
          s"$q.verify_yield" -> found.size / math.max(cand, 1L).toDouble,
          s"$q.planted_recall" -> planted.count(found.contains) / math.max(planted.size, 1).toDouble)
      }
      base ++ lsh
    }.toMap
  }
}
