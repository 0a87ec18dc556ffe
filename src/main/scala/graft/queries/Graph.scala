package graft.queries

import graft.OracleSql
import graft.ops.GraphOps
import Shared.{t, graphPairs}

/** Graph analytics over the near-duplicate graph ([[Shared.graphPairs]]). */
object Graph {

  val specs: Seq[QuerySpec] = Seq(
    // fixed-point integer PageRank (5 steps) over the near-dup graph —
    // hub-copy centrality; identical LSH pair front-end to
    // dedup_components, iters×O(|edges|) keyed exchanges
    QuerySpec("graph_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents")
      GraphOps.pageRank(docs, graphPairs(docs), iters = 5)
    },
      s"""WITH ${OracleSql.minhashPairsCte()},
         |${OracleSql.pageRankUnrolled(5, 1000000L)}
         |SELECT id AS doc_id, r AS rank_units FROM r5""".stripMargin)
  )
}
