package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named handles on the internal memoized builder FRAMES (un-memoized
  * form), so `graft.tools.Profile` can time them and dump their plans —
  * the private[...] builders are not reachable from graft.tools directly.
  */
object BuilderPlans {
  val byName: PartialFunction[String, (SparkSession, String) => DataFrame] = {
    case "knngraph" => (s, d) =>
      R12Queries.knnGraphEdgesOver(R12Queries.corpusVecs(s, d))
    case "pairs" => (s, d) =>
      R16Queries.pairsOf(
        R12Queries.bandedKeysOver(R12Queries.corpusVecs(s, d)))
    case "shingleset" => (s, d) => TextQueries.shingleSetBuild(s, d)
    case "jpairs" => (s, d) => TextQueries.jaccardPrefixPairsBuild(s, d)
    case "copurchtri" => (s, d) =>
      GraphQueries.triangleTriplesBuild(s, d, useBloom = false)
  }
}
