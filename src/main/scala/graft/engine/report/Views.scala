package graft.engine.report

import graft.engine.mongo.MongoLogPipeline
import graft.engine.mysql.MySqlLogPipeline

/** SQL front end (SURVEY.md §2.9): the reference has no SQL surface; Spark
  * gives one for free. Registering every pipeline output as a temp view
  * makes `spark.sql("SELECT ... FROM mongo_query_stats ...")` work over any
  * analyzed log — the views are lazy plans, so SQL composes with the
  * pipeline (filters push into the parse, unused-branch views cost nothing).
  */
object Views {

  /** Register the four Mongo branches + bad-record channel. */
  def registerMongo(res: MongoLogPipeline.Result,
                    prefix: String = "mongo"): Unit = {
    res.detailed.createOrReplaceTempView(s"${prefix}_detailed")
    res.queryStats.createOrReplaceTempView(s"${prefix}_query_stats")
    res.nonSlow.createOrReplaceTempView(s"${prefix}_non_slow")
    res.errors.createOrReplaceTempView(s"${prefix}_errors")
    res.parseErrors.createOrReplaceTempView(s"${prefix}_parse_errors")
  }

  /** Register the MySQL detailed/aggregate/warnings tables. */
  def registerMySql(res: MySqlLogPipeline.Result,
                    prefix: String = "mysql"): Unit = {
    res.detailed.createOrReplaceTempView(s"${prefix}_detailed")
    res.aggregate.createOrReplaceTempView(s"${prefix}_aggregate")
    res.warnings.createOrReplaceTempView(s"${prefix}_warnings")
  }
}
