package graft.ops

import graft.Gate

/** The extension gates beyond reference parity (SURVEY.md §2b and the
  * LLM-data-pipeline set): analytics (joins, aggregates, windows, sorts,
  * set ops), dedup, similarity search, text analysis, multimodal
  * plumbing, streaming and the SQL surface. Each module declares its
  * `gates`, every one with its Spark query and its DuckDB oracle; this
  * list names each module once.
  */
object Extensions {
  def gates: Seq[Gate] = Seq(
    Analytics.gates, Dedup.gates, TextAnalysis.gates, Similarity.gates,
    GraphAnn.gates, Multimodal.gates, StreamingGate.gates, AsOf.gates,
    SqlSurface.gates, Bucketing.gates, EventsOps.gates, Cohorts.gates,
    DataQuality.gates, Reshape.gates, Stats.gates, Graph.gates,
    Chunking.gates, Maintenance.gates, Curation.gates, ScanPruning.gates,
    Lifecycle.gates, Selection.gates, TpchShapes.gates, TpchShapes2.gates,
    MatViews.gates, Dsv2Source.gates, Lineage.gates, Association.gates,
    Governance.gates, DriftAudit.gates, TemporalStats.gates,
    Concentration.gates, BitmapIndex.gates
  ).flatten
}
