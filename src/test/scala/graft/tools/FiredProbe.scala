package graft.tools

import graft.TopologyOracle
import graft.operators.Alerts
import graft.streaming.ApmGraph

/** Forensics main for topology-run postmortems (first used on the
  * captured round-11 run-4 failure): rebuilds the spec's batch oracle
  * over a surviving logs directory — through the SAME
  * [[TopologyOracle]] builder the spec asserts against, so the
  * adjudication can't drift — and prints candidates / firedRef /
  * alertsRef, so an alert divergence can be adjudicated as
  * arrival-tie-vs-bug from the data.
  * Usage: Test/runMain graft.tools.FiredProbe /tmp/graft_mpNNN/logs
  */
object FiredProbe {
  def main(args: Array[String]): Unit = {
    val logs = args(0)
    val spark = graft.GraftSession()
    val candB = TopologyOracle.candidates(spark, s"$logs/net/*/*")
    println("== bad candidates ==")
    candB.filter(_._5).sortBy(c => (c._4, c._1)).foreach(c =>
      println(s"  ${c._4} ${c._1} ${c._2} lag=${c._3} causes=${c._6}"))
    println("== firedRef ==")
    Alerts.firedRef(candB.toIndexedSeq, ApmGraph.Alert).foreach(f =>
      println(s"  $f"))
    println("== alertsRef ==")
    Alerts.alertsRef(candB.toIndexedSeq, ApmGraph.Alert).foreach(a =>
      println(s"  $a"))
    spark.stop()
  }
}
