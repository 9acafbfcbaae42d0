package graft.obs

import java.util.Locale

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the machine-readable records: the run log
  * ([[graft.pipeline.Tracking]]), Bench's headline and `BENCH_DETAIL.json`,
  * Verify's `oracle_sql.json` and the measuring tools' lines. Jackson and
  * its Scala module escape strings and write a map as an object in its
  * iteration order, a collection as an array, `None` as null and a
  * `Double` as its shortest round-trip text (`0.1`, `1.0E-4`). No number
  * depends on the JVM's default locale. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as one line of compact JSON. */
  def render(v: Any): String = mapper.writeValueAsString(v)

  /** An object whose fields keep the order given. */
  def obj(fields: (String, Any)*): VectorMap[String, Any] = VectorMap(fields: _*)

  /** `x` with exactly `decimals` digits after the point (`%.Nf` in the root
    * locale); null when `x` is not finite. */
  def fixed(x: Double, decimals: Int): Option[java.math.BigDecimal] =
    if (x.isNaN || x.isInfinite) None
    else Some(new java.math.BigDecimal(s"%.${decimals}f".formatLocal(Locale.ROOT, x)))

  /** Seconds as every measuring tool reports them: 3 decimals. */
  def sec(x: Double): Option[java.math.BigDecimal] = fixed(x, 3)
}
