"""Span parentage across threads, and the wrapper's pickling and signature."""

import inspect
import pickle
import threading

import tracing


def _kernel(key, pdf, scale=2):
    return pdf


def test_callback_thread_spans_hang_under_the_blocked_main_span():
    tr = tracing.Tracer()
    with tr.span("entry", "k") as entry:
        with tr.span("streaming", "stream") as stream:

            def callback():
                with tr.span("manifest", "publish"):
                    pass

            t = threading.Thread(target=callback)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    by_name = {sp["name"]: sp for sp in tr.spans}
    assert by_name["publish"]["parent"] == stream["id"]
    assert by_name["stream"]["parent"] == entry["id"]


def test_wrapper_records_only_while_active_and_pickles_as_the_function():
    tr = tracing.Tracer()
    w = tracing._Traced(tr, "operators", _kernel)
    assert w("k", 3) == 3
    assert tr.spans == []
    tr.active = True
    assert w("k", 4) == 4
    assert [sp["layer"] for sp in tr.spans] == ["operators"]
    assert pickle.loads(pickle.dumps(w)) is _kernel
    # Spark reads the argument list of grouped-map kernels this way
    assert inspect.getfullargspec(w).args == ["key", "pdf", "scale"]
