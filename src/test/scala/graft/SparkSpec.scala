package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local SparkSession per suite, UTC, AQE on —
  * the same config the engine ships (Engine.local), small core count to keep
  * specs quick.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = Engine.local(4, getClass.getSimpleName)

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`
    * (None keeps the session's setting) and restores it afterwards. The
    * threshold also bounds the fixpoints' small-frontier finish
    * (graft.SmallFrontier): -1 keeps every fixpoint on its distributed
    * rounds.
    */
  protected def withBroadcastThreshold[T](bytes: Option[Long])(
      body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    bytes.foreach(b => spark.conf.set(key, b.toString))
    try body finally spark.conf.set(key, prev)
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
