package graft

/** The full declared query inventory (SURVEY.md §2.9). */
object Registry {
  val all: Seq[Probe] =
    queries.RefQueries.all ++
    queries.Probes.all ++
    queries.Advanced.all ++
    queries.Functions2.all ++
    queries.Breadth.all ++
    queries.Modern.all ++
    ext.Dedup.all ++
    ext.Decontamination.all ++
    ext.PipelineOps.all ++
    ext.PipelineOps2.all ++
    ext.PipelineOps3.all ++
    ext.PipelineOps4.all ++
    ext.PipelineOps5.all ++
    ext.PipelineOps6.all ++
    ext.PipelineOps7.all ++
    ext.PipelineOps8.all ++
    ext.PipelineOps9.all ++
    ext.PipelineOps10.all ++
    ext.PipelineOps11.all ++
    ext.PipelineOps12.all ++
    ext.PipelineOps13.all ++
    ext.PipelineOps14.all ++
    ext.PipelineOps15.all ++
    ext.PipelineOps16.all ++
    ext.RobotsTxt.all ++
    ext.Frontier.all ++
    ext.LinkGraph.all ++
    ext.PageSignals.all ++
    ext.UnigramTok.all ++
    ext.SketchStore.all ++
    ext.LmStore.all ++
    ext.KnLm.all ++
    ext.SegIndex.all ++
    ext.BloomIndex.all ++
    ext.QualityModel.all ++
    ext.IvfIndex.all ++
    ext.Similarity.all ++
    ext.Similarity2.all ++
    ext.EmbedDedup.all ++
    ext.TextAnalysis.all ++
    ext.LangId.all ++
    ext.Multimodal.all ++
    sources.Roundtrips.all ++
    sources.Warc.all ++
    sources.Revisit.all ++
    sources.DoorFunnel.all ++
    sources.Sitemap.all ++
    osm.OsmProbes.all
}
