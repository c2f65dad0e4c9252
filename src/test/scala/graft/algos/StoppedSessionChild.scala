package graft.algos

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Child-process main for [[TradeGraphSpec]]: fill the trade-graph memo,
  * a frame memo of the `AnnOps.assigns` shape and the FlexDice memo in
  * one session, stop it, and make a new session's inserts evict the
  * first two entries and read the dice. Prints `STOPPED_EVICT_OK` when
  * the evictions returned and the new session's ranks and terminal
  * cells equal the stopped one's.
  *
  * args: sfDir */
object StoppedSessionChild {

  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("stopped-session")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def ranks(g: graft.core.Superstep.PreparedGraph): Map[Long, Long] =
    Iterative.pageRankExactOn(g, iters = 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val frames = new Memo[(SparkSession, String), DataFrame](1,
      Memo.released[DataFrame](_.sparkSession)(_.unpersist()))
    val s1 = session()
    val want = ranks(Iterative.tradeGraph(s1, d))
    frames((s1, d))(s1.range(10).toDF().persist()).count()
    val cells = graft.SparkEntry.queries("flexdice_cells")
    val wantCells = cells(s1, d).collect().toSeq
    s1.stop()
    val s2 = session()
    require(s2.sparkContext ne s1.sparkContext, "the stopped context was reused")
    val got = ranks(Iterative.tradeGraph(s2, d)) // evicts s1's graph
    frames((s2, d))(s2.range(10).toDF().persist()).count() // evicts s1's frame
    require(got == want, "the new session's ranks differ")
    require(cells(s2, d).collect().toSeq == wantCells, "the new session's dice differs")
    println("STOPPED_EVICT_OK")
    s2.stop()
  }
}
