package perfbench

import graft.{Q, SparkEntry}

/** The benchmark's workloads: fixed lists of `SparkEntry.queries` keys,
  * plus the key-to-module map built from the library's own registries. */
object Workloads {

  private def words(s: String): Seq[String] = s.trim.split("\\s+").toSeq

  /** Analyst query latency on a read-only mix of join, aggregate, window,
    * set and SQL keys; one client in a closed loop. A systematic sample of
    * the design's 47 olap keys: the 44 that write nothing, sorted by
    * steady per-key time, the keys at ranks (i + 1/2) * 44/9 (see
    * perfbench/NOTES.md). */
  val olapMix: Seq[String] = words("""
    join_anti set_union project_arith win_runsum agg_gsets sql_scalar_subq
    win_gaps_islands join_smj join_bloom""")

  /** The paper's product-derivation path, writes beside reads: the
    * product pipeline, band math, tile kernels, a GeoTIFF scan and a
    * Z-order table rewrite; one client. `eo_product_pipeline`, the paper's
    * pipeline, and a systematic sample of the design's other 33 eo keys,
    * writers included: ranks (i + 1/2) * 33/5. */
  val eoProduct: Seq[String] = words("""
    eo_product_pipeline eo_bandmath eo_tile_focal scan_geotiff_deflate
    eo_tile_composite_median maint_zorder_rewrite""")

  /** `passSeconds` is a timed pass's length when the workload was defined
    * (4-vCPU VM, sf0.01). A run makes `--seconds / passSeconds` timed
    * passes (at least two) rather than stopping on the clock: passes still
    * speed up while the JIT warms, so a clock cut-off that lands between
    * two pass counts would move the medians by more than the noise. A
    * traced run makes an odd count, at least three, so that every traced
    * pass has an untraced pass on each side to compare with. `warmPasses`
    * untimed passes come first, so that the timed passes run past the
    * steepest part of the JIT warm-up; more did not fit the run budget
    * (perfbench/NOTES.md, "Warm-up"). */
  final case class Workload(keys: Seq[String], passSeconds: Double, warmPasses: Int) {
    def passes(seconds: Double, trace: Boolean): Int = {
      val n = math.max(2, math.round(seconds / passSeconds).toInt)
      if (trace) math.max(3, n | 1) else n
    }
  }

  val all: Map[String, Workload] = Map(
    "olap_mix" -> Workload(olapMix, 5.5, warmPasses = 2),
    "eo_product" -> Workload(eoProduct, 6.0, warmPasses = 1))

  /** Module name -> the registries it owns. Every registry that
    * `SparkEntry.registry` concatenates appears here once, so a key that
    * moves between registries moves between modules without an edit. */
  val registries: Seq[(String, Seq[Q])] = {
    import graft.{functions => f, operators => o, sources => s}
    Seq(
      "relational" -> (o.Relational.all ++ o.SortSet.all ++ o.SqlSurface.all),
      "aggregates" -> o.Aggregates.all,
      "windows" -> o.Windows.all,
      "eo" -> o.EO.all,
      "catalog" -> s.SceneCatalog.all,
      "geotiff" -> s.GeoTiffScan.all,
      "maintenance" -> o.Maintenance.all,
      "llm" -> (o.Llm.all ++ o.Corpus.all ++ o.LlmExtras.all),
      "graph" -> o.Graph.all,
      "multimodal" -> o.Multimodal.all,
      "skew" -> o.Skew.all,
      "quality" -> o.Quality.all,
      "scalars" -> f.Scalars.all,
      "udfs" -> f.Udfs.all,
      "streaming" -> graft.streaming.StreamTwins.all)
  }

  /** The modules the per-layer report lists: those any workload draws
    * from, so every workload reports the same metric names. */
  lazy val reportedModules: Seq[String] = {
    val used = all.values.flatMap(w => moduleOf(w.keys).values).toSet
    registries.map(_._1).filter(used)
  }

  /** Key -> module, after checking that every workload key is a
    * `SparkEntry.queries` key owned by exactly one module. */
  def moduleOf(keys: Seq[String]): Map[String, String] = {
    val owners = registries.flatMap { case (m, qs) => qs.map(_.name -> m) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val queries = SparkEntry.queries
    val problems = keys.distinct.flatMap { k =>
      if (!queries.contains(k)) Some(s"$k is not a SparkEntry.queries key")
      else owners.getOrElse(k, Nil) match {
        case Seq(_) => None
        case ms => Some(s"$k belongs to ${ms.size} modules: ${ms.mkString(",")}")
      }
    }
    require(problems.isEmpty, problems.mkString("; "))
    keys.map(k => k -> owners(k).head).toMap
  }
}
