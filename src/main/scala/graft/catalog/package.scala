package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** The query catalogue: one [[catalog.QueryDef]] per query, declared in the
  * module of the operator family its build calls. */
package object catalog {

  // sugar so the query bodies read like notebook Spark
  private[catalog] implicit class Sym(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
