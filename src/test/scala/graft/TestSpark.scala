package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")
  val Sf0001 = "/root/testdata/sf0.001"

  /** `body` with every sub-cap driver twin off, so each operator runs its
    * distributed chain — the other side of the twins' parity specs.
    */
  def distributed[T](body: => T): T =
    graft.operators.Guards.distributedOnly(spark)(body)
}
