package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Isolation
import graft.sources.Isolation._

/** Isolation negotiation matrix (reference ExtJdbcUtils.scala:193-216)
  * and the writer-sugar implicit.
  */
class IsolationSpec extends AnyFunSuite {

  test("requested level kept when supported") {
    assert(negotiate(Serializable_, Set(Serializable_, ReadCommitted)) ==
      Serializable_)
  }

  test("unsupported level downgrades to strongest supported below it") {
    assert(negotiate(Serializable_, Set(ReadCommitted, ReadUncommitted)) ==
      ReadCommitted)
    assert(negotiate(RepeatableRead, Set(ReadUncommitted)) == ReadUncommitted)
  }

  test("nothing supported at or below -> NONE") {
    assert(negotiate(ReadUncommitted, Set(Serializable_)) == None_)
    assert(negotiate(ReadCommitted, Set.empty) == None_)
  }
}

class WriterSugarSpec extends SparkTestBase {
  test("df.write.graft(path) implicit works like format(\"graft\")") {
    import graft._
    val dir = tempDir("graft-sugar").resolve("n").toString
    spark.read.parquet(s"$sf001/nation.parquet").write.graft(dir)
    assert(spark.read.parquet(dir).count() == 25)
  }
}
