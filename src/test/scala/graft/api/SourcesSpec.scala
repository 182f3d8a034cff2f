package graft.api

import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  test("fetchPaged walks all pages (pdc_helpers.py:106-156)") {
    val data = (1 to 25).toSeq
    val out = Sources.fetchPaged[Int](pageSize = 10) { (off, lim) =>
      (data.slice(off, off + lim), data.size)
    }
    assert(out === data)
  }

  test("fetchPaged detects page-count drift (pdc_helpers.py:152-154)") {
    var total = 25
    intercept[Sources.PageDriftException] {
      Sources.fetchPaged[Int](pageSize = 10) { (off, lim) =>
        val t = total; total += 1  // server-side mutation between pages
        ((1 to 25).slice(off, off + lim), t)
      }
    }
  }

  test("retry retries transient failures with backoff (pdc_helpers.py:42-76)") {
    var calls = 0
    val v = Sources.retry(maxAttempts = 5, backoffMs = 1) {
      calls += 1
      if (calls < 3) sys.error("503")
      42
    }
    assert(v === 42 && calls === 3)
    intercept[RuntimeException] {
      Sources.retry(maxAttempts = 2, backoffMs = 1) { sys.error("permanent") }
    }
  }

  test("retry does not retry fatal errors: an interrupt propagates after one attempt") {
    var calls = 0
    intercept[InterruptedException] {
      Sources.retry(maxAttempts = 10, backoffMs = 1) {
        calls += 1
        throw new InterruptedException("stop")
      }
    }
    assert(calls === 1)
    calls = 0
    intercept[RuntimeException] {
      Sources.retry(maxAttempts = 3, backoffMs = 1) { calls += 1; sys.error("transient") }
    }
    assert(calls === 3)
  }

  test("fetchCursor walks rel=next chain (quant_data_matrix_pdc.py:49-131)") {
    val data = ('a' to 'k').map(_.toString)
    val out = Sources.fetchCursor[String] { cursor =>
      val from = cursor.map(c => data.indexOf(c) + 1).getOrElse(0)
      val page = data.slice(from, from + 4)
      (page, if (from + 4 >= data.size) None else Some(page.last))
    }
    assert(out === data)
  }
}
