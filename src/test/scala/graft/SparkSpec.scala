package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture: the bench's session
  * ([[GraftSession]]) at 4 cores on the sf0.001 corpus, so specs assert
  * the plans Verify checks and Bench times.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Deterministic property check over a ScalaCheck Gen (the
    * scalatest-plus bridge isn't in the offline cache).
    */
  def forAllN[A](gen: org.scalacheck.Gen[A], n: Int = 50)(f: A => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (1 to n).foreach { _ =>
      gen.apply(params, seed).foreach(f)
      seed = seed.next
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("/root/testdata/sf0.001", "4")
}
