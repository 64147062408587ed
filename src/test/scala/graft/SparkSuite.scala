package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared across every suite in the forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

object SparkSuite {
  /** One line naming a failure: its class and the first line of its
    * message (Spark messages run to many lines of plan and context). */
  def cause(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
}
