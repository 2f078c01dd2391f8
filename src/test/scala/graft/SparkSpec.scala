package graft

import graft.core.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs; mirrors the reference's tiny-fixture
  * golden-value style (SURVEY §5). The session comes from the library's
  * factory, so specs run the config that library users get. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Order-insensitive DataFrame equality on collected rows. */
  def assertSameRows(actual: DataFrame, expected: Seq[Product]): Unit = {
    val got = actual.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val want = expected.map(_.productIterator.toSeq).sortBy(_.mkString("|"))
    assert(got == want, s"\ngot:  ${got.mkString("\n  ")}\nwant: ${want.mkString("\n  ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.build(appName = "graft-test", master = "local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
