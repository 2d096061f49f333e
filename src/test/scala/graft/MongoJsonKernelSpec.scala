package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.expr.{MongoJson, NativeFunctions}
import graft.engine.gen.LogGen
import graft.engine.schemas.Schemas

/** Pins [[MongoJson.MongoLineParse]] against the LIVE
  * `from_json(line, Schemas.MongodLine, PERMISSIVE + _corrupt)` it
  * replaces: struct-for-struct equality (to_json rendering + null-ness +
  * per-field values) on an adversarial battery covering every observed
  * from_json behavior class (probed 2026-08) and on every
  * generated mongod line class at sf0.001.
  */
class MongoJsonKernelSpec extends SparkTestBase {
  import spark.implicits._

  private def legacy(df: DataFrame): DataFrame = {
    val opts = Map("columnNameOfCorruptRecord" -> Schemas.CorruptField,
      "mode" -> "PERMISSIVE")
    df.select(col("line"), from_json(col("line"), Schemas.MongodLine, opts).as("j"))
  }

  private def fused(df: DataFrame): DataFrame = {
    NativeFunctions.ensureRegistered(spark)
    df.select(col("line"), MongoJson.mongoLineParse(col("line")).as("j"))
  }

  private def rendered(df: DataFrame): DataFrame =
    df.select(col("line"), col("j").isNull.as("jnull"), to_json(col("j")).as("jj"),
      col("j.t.`$date`").as("tdate"), col("j.s").as("s"), col("j.msg").as("msg"),
      col("j.id").as("id"), col("j.attr.ns").as("ns"),
      col("j.attr.durationMillis").as("dur"),
      col("j.attr.error.codeName").as("ecn"),
      col(s"j.${Schemas.CorruptField}").as("corrupt"))

  private val adversarial = Seq(
    "", "   ", "\t\n ", "null", "5", "-5", "\"str\"", "[]", """[{"s":"E"}]""",
    "not json", "{}", "{ }",
    """{"t":5,"s":"I","msg":"x"}""",
    """{"t":{"$date":"2026"},"s":"E","c":"STORAGE","id":22435,"ctx":"conn7","msg":"Slow query","attr":{"error":{"code":101,"codeName":"CN","errmsg":"em"}}}""",
    """{"id":"x","s":"I"}""", """{"id":1.5,"s":"I"}""", """{"id":1e3}""",
    """{"id":99999999999999999999999,"s":"I"}""", """{"id":""}""",
    """{"id":-9223372036854775808}""", """{"id":9223372036854775807}""",
    """{"msg":5}""", """{"msg":{"a":1}}""", """{"msg":[1,"a"]}""",
    """{"msg":1.25e2}""", """{"msg":true}""", """{"msg":null}""",
    """{"msg":NaN}""", """{"msg":1E+999}""",
    """{"msg": {"a": 1, "b": [2, 3]} }""",
    """{"msg":"café \n tab\t"}""",
    """{"attr":"x","s":"E"}""", """{"attr":""}""", """{"attr":[1]}""",
    """{"attr":{"error":5,"ns":"a.b"},"s":"E"}""",
    """{"attr":{"error":{"code":"x","codeName":"CN"},"ns":"a.b"}}""",
    """{"attr":{"error":{"code":99999999999999999999999}}}""",
    """{"attr":{"durationMillis":"123"},"s":"E"}""",
    """{"attr":{"durationMillis":12.0}}""",
    """{"attr":{"nreturned":-3},"unknown":{"deep":[1,2]},"s":"E"}""",
    """{"attr":{"keysExamined":1,"docsExamined":2,"numYields":3,"nreturned":4,"durationMillis":5,"type":"command","ns":"a.b","planSummary":"COLLSCAN"}}""",
    """{"s":"A","s":"B"}""", """{"s":"A","s":null}""",
    """{"attr":{"durationMillis":1},"attr":5}""",
    """{"attr":5,"attr":{"durationMillis":1}}""",
    """{"t":{"$date":"x","$date":"y"}}""",
    """{"t":{"$date":5}}""", """{"t":[],"s":"E"}""", """{"t":""}""",
    """{"_corrupt":"boo","s":"E"}""",
    """{'s':'E'}""",
    """{"s":"E"} trailing""",
    """{"s":"E",}""",
    """{"broken":""", """{"s":"E","x":""",
    """{"s":"E","attr":{"ns":"a.b","bro""",
    """{"id":+5}""", """{"id":01}""",
    """{"ctx":"c","id":22,"msg":"Slow query","t":{"$date":"x","extra":1}}""",
    """{"s":"E","attr":{"error":{"errmsg":"m","extra":{"x":1}}}}""",
    "{\"s\":\"raw\nctrl\"}",
    """{"t":{"$date":"汉字 😀"},"msg":"emoji 😀 body"}""")

  test("kernel == from_json on the adversarial battery") {
    val df = adversarial.toDF("line")
    val a = rendered(fused(df))
    val b = rendered(legacy(df))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, {
      val diff = a.exceptAll(b).collect().map(_.toString).mkString("\n")
      s"kernel-only rows:\n$diff"
    })
  }

  test("kernel == from_json on every generated sf0.001 mongod line") {
    val lines = LogGen.mongoLines(spark, "/root/testdata/sf0.001")
      .select(col("line"))
    val a = rendered(fused(lines))
    val b = rendered(legacy(lines))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
