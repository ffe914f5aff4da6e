package graft

/** Every query a module object declares is registered exactly once: a
  * `QuerySpec` val that falls out of its module's `all` list would be
  * silently skipped by Verify, Bench and the DuckDB oracle. */
class RegistrySpec extends org.scalatest.funsuite.AnyFunSuite {

  private val modules: Seq[AnyRef] = Seq(
    operators.Relational, operators.TextQueries,
    operators.DedupQueries, operators.VectorQueries, operators.SketchQueries,
    operators.SeriesQueries, operators.CorpusQueries, operators.ServingQueries,
    ml.MlQueries, operators.EventQueries, multimodal.MultimodalQueries,
    operators.Graph, operators.Bpe)

  /** The public, parameterless `QuerySpec` members of a module object. */
  private def declared(module: AnyRef): Seq[(String, QuerySpec)] =
    module.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 && m.getReturnType == classOf[QuerySpec])
      .map(m => s"${module.getClass.getSimpleName.stripSuffix("$")}.${m.getName}" ->
        m.invoke(module).asInstanceOf[QuerySpec])

  test("each declared QuerySpec appears exactly once in SparkEntry.specs") {
    val specs = SparkEntry.specs
    val members = modules.flatMap(declared)
    val counts = members.map { case (member, q) => member -> specs.count(_ eq q) }
    val wrong = counts.filter(_._2 != 1)
    assert(wrong.isEmpty, wrong.map { case (m, n) => s"$m registered $n times" }.mkString("; "))
    assert(members.size === specs.size, "SparkEntry.specs holds a spec no module declares")
  }

  test("query names are unique") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size === 224)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, dups.mkString(", "))
  }

  test("PipelineQueries is only the ordered index of the band modules") {
    val own = operators.PipelineQueries.getClass.getDeclaredMethods.map(_.getName).toSet
    assert(own === Set("all"))
    val bands = Seq(operators.DedupQueries, operators.VectorQueries, operators.SketchQueries,
      operators.SeriesQueries, operators.CorpusQueries, operators.ServingQueries)
    assert(operators.PipelineQueries.all.toSet === bands.flatMap(declared).map(_._2).toSet)
    assert(operators.PipelineQueries.all.size === 95)
  }
}
