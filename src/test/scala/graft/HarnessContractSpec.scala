package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-harness contract over every gate query in `Queries.all`.
  *
  * The round-4 lesson: the driver's comparator sorts result rows with
  * pandas and hashes values dtype-strictly. A gate query whose output
  * contains an Array/Map column dies in that sort (`unhashable
  * numpy.ndarray`, q57/q63), even when the Spark plan and the math are
  * right. List-valued APIs are fine — the GATE projection must be
  * scalar-celled (posexplode / array_join), q18/q65-style. This spec
  * pins that contract for every current and future gate. */
class HarnessContractSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** (gate, output schema), sorted by gate. Constructing a gate runs its
    * eager jobs, so every gate is built once for both tests; the schema
    * itself is resolved at plan time. */
  private lazy val schemas: Seq[(String, StructType)] =
    Queries.all.toSeq.sortBy(_._1).map { case (name, q) => name -> q.impl(spark, sfDir).schema }

  test("no gate query emits Array/Map-typed or nested output columns") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    val offenders = schemas.flatMap { case (name, schema) =>
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"gate outputs must be scalar cells (driver pandas sort contract); " +
        s"posexplode or array_join these:\n  ${offenders.mkString("\n  ")}")
  }

  test("every oracle-gated query aliases only lowercase snake_case columns") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    // the driver matches spark/oracle columns by exact name after a
    // by-name sort; mixed-case or spaced names are a silent hash trap
    val offenders = schemas.flatMap { case (name, schema) =>
      schema.fieldNames.collect {
        case c if !c.matches("[a-z][a-z0-9_]*") => s"$name.$c"
      }
    }
    assert(offenders.isEmpty, s"non-snake_case gate columns:\n  ${offenders.mkString("\n  ")}")
  }
}
