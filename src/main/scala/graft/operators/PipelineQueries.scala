package graft.operators

import graft.QuerySpec

/** Index of the LLM-data-pipeline band, whose queries live in one band
  * module each by subject: [[DedupQueries]], [[VectorQueries]],
  * [[SketchQueries]], [[SeriesQueries]], [[CorpusQueries]] and
  * [[ServingQueries]].
  *
  * `all` keeps the band's 95 specs in their original order: that order is
  * part of [[graft.SparkEntry.specs]], which pins the bench line and the
  * cross-round diffs. No band module refers back to this object.
  */
object PipelineQueries {
  import CorpusQueries._, DedupQueries._, SeriesQueries._, ServingQueries._,
    SketchQueries._, VectorQueries._

  val all: Seq[QuerySpec] = Seq(
    q30DedupExact, q31NgramJaccard, q32MinHash, q33SimHash,
    q34CosinePairs, q35DedupGroups, q123SemanticDedup, q36SequencePack, q38Contamination,
    q40KnnTopK, q41AnnLsh, q42KnnClassify, q43AnnIvf, q44QuantizeInt8,
    q45KeywordRank, q49LabelCentroids, q51ContaminationBloom,
    q52DataMixture, q53HeavyHitters, q55Curriculum,
    q56MixtureResample, q57BigramLm, q58LmSurprisal, q59DedupKeeplist,
    q73DedupApply, q75Decontaminate, q78AnnRecall, q80DedupIncremental,
    q84DocChunks, q88MinHashPairs, q94Collocations, q100InvertedIndex,
    q106VectorHygiene, q115KeywordExtract, q116SourceOverlap,
    q125SpanPairs, q126SpanScrub, q127AnnPq, q128AnnIvfPq,
    q129SourceDivergence, q135MatryoshkaRecall, q143PpsSample, q147MmrRerank,
    q149RetrievalEval, q160MmrLambdaSweep, q161KmvSketch, q163NgramDecontaminate,
    q164LshDedupRecall, q165DedupSavings, q166AnnRecallExact, q169MmrExact,
    q170KmeansExact, q171IvfRecallExact, q172PqRecallExact, q173CmsSketch,
    q174Bm25TopK, q176DsirWeights, q177EwmaTrend, q180QuantileSketch,
    q184HoltTrend, q185HybridRrf, q186HoltWinters, q187Chi2Drift,
    q189CusumChangepoint, q191KsDrift, q192MannKendall,
    q194StratifiedSample, q195Silhouette, q196CohensKappa,
    q197SkewAudit, q198JoinCardEst, q199BenfordAudit,
    q200MarkovStationary, q201AbTest, q202AnnMcnemar, q203Spearman,
    q204KaplanMeier, q205Attribution, q206BootstrapCi, q207ChapmanCoverage,
    q208LangId, q209WeightedReservoir, q210AcfAudit, q211KmvSetOps,
    q213RepetitionRules, q214HardNegatives, q215PacfAudit, q216RagServe,
    q217ArFit, q218SemanticDedupFull, q220CalibrationEce, q221PiecewiseTrend,
    q222SemDedupClusters, q223LjungBox, q224EmbeddingDrift)
}
