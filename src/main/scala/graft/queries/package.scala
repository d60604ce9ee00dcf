package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

package object queries {

  /** A query program: the session and a scale-factor directory of test
    * tables in, the result frame out.
    */
  type Program = (SparkSession, String) => DataFrame

  // Column shorthand without a SparkSession in scope.
  private[queries] implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
