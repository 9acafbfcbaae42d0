package graft

import java.util.Locale

import graft.obs.Json
import org.scalatest.funsuite.AnyFunSuite

/** Bench's two outputs for fixed results, byte for byte, and the number
  * text of every JSON record under a comma-decimal default locale. */
class BenchSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"
  private val results = Seq(
    Bench.Result("check_consistency", 0.2, 0.1894, 0.15, 123L, (10L, 20L, 0L), None),
    Bench.Result("other_query", 1.3, 1.25, 0.5, 7L, (0L, 0L, 4096L), None),
    Bench.Result("zz_broken", -1.0, -1.0, -1.0, -1L, (0L, 0L, 0L), Some("bad \"x\"\nline2")))

  test("the headline line and BENCH_DETAIL.json keep their exact bytes") {
    assert(Bench.headlineJson(sf, results) ==
      """{"metric":"total","value":1.439,"unit":"sec","queries":{"check_consistency":0.189},""" +
      """"total_first_cold":1.500,"total_warm":0.650,"sf":"/data/sf0.1","n_queries":3,"n_failed":1,""" +
      """"errors":{"zz_broken":"bad \"x\"\nline2"},"detail":"BENCH_DETAIL.json"}""")
    assert(Bench.detailJson(sf, results) ==
      """{"sf":"/data/sf0.1","n_queries":3,"n_failed":1,"total":1.439,"total_first_cold":1.500,""" +
      """"total_warm":0.650,"queries":{""" +
      """"check_consistency":{"cold":0.200,"cold_min":0.189,"warm":0.150,"rows":123,""" +
      """"shuffle_read":10,"shuffle_write":20,"spilled":0},""" +
      """"other_query":{"cold":1.300,"cold_min":1.250,"warm":0.500,"rows":7,""" +
      """"shuffle_read":0,"shuffle_write":0,"spilled":4096},""" +
      """"zz_broken":{"cold":-1.000,"cold_min":-1.000,"warm":-1.000,"rows":-1,""" +
      """"shuffle_read":0,"shuffle_write":0,"spilled":0}},""" +
      """"errors":{"zz_broken":"bad \"x\"\nline2"}}""")
  }

  test("Json writes numbers with a decimal point under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert("%.3f".format(1.234) == "1,234")
      assert(Json.render(Json.obj("sec" -> Json.sec(1.234), "x" -> 1.5, "r" -> Json.fixed(0.25, 1))) ==
        """{"sec":1.234,"x":1.5,"r":0.3}""")
    } finally Locale.setDefault(saved)
  }
}
