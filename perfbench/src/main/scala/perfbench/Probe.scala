package perfbench

import graft.queries._

/** Per-gate time split, the measurement the workloads' gate subsets are
  * chosen by.
  *
  *   Probe <data-root> <sf> <warm-sf> <passes> <Module>[,<Module>...]
  *
  * (probe.py runs it for a workload's modules and sums the shares.)
  * Calls every gate of the named query modules once at <warm-sf>, then
  * <passes> times at <sf> in a fixed order, and prints one TSV line per
  * gate: the median seconds over the passes after the first of the gate
  * function call (build), of planning the hashed query (plan) and of its
  * collect (exec), the first pass's total, and whether the gate has a
  * DuckDB oracle. A gate that throws is printed with FAILED. */
object Probe {
  private val modules: Map[String, Map[String, Q]] = Map(
    "Relational" -> Relational.defs, "Aggregates" -> Aggregates.defs,
    "Scalar" -> Scalar.defs, "Strings" -> Strings.defs,
    "EventAnalytics" -> EventAnalytics.defs, "Analytics" -> Analytics.defs,
    "TextPipeline" -> TextPipeline.defs, "Corpus" -> Corpus.defs,
    "Similarity" -> Similarity.defs, "Streaming" -> Streaming.defs)

  def main(args: Array[String]): Unit = {
    val Array(data, sf, warmSf, passes, mods) = args
    val gates = mods.split(',').toSeq.flatMap(m => modules(m).keys).sorted
    val spark = Gates.session(4)
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    def once(gate: String, scale: String): Option[Seq[Double]] = try {
      val t0 = System.nanoTime()
      val df = fns(gate)(spark, s"$data/$scale")
      val t1 = System.nanoTime()
      val h = Gates.hashed(df)
      h.queryExecution.executedPlan
      val t2 = System.nanoTime()
      h.collect()
      Some(Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9))
    } catch { case e: Exception =>
      System.err.println(s"$gate@$scale: $e")
      None
    }
    gates.foreach(once(_, warmSf))
    val runs = (1 to passes.toInt).map(_ => gates.map(g => g -> once(g, sf)).toMap)
    println("gate\tbuild_s\tplan_s\texec_s\tcold_s\toracle")
    for (g <- gates) {
      val ok = runs.map(_(g))
      if (ok.exists(_.isEmpty)) println(s"$g\tFAILED")
      else {
        val warm = ok.tail.map(_.get)
        def med(i: Int) = {
          val s = warm.map(_(i)).sorted
          s(s.size / 2)
        }
        println(f"$g\t${med(0)}%.4f\t${med(1)}%.4f\t${med(2)}%.4f\t${ok.head.get.sum}%.4f\t${oracle.contains(g)}")
      }
    }
    spark.stop()
  }
}
