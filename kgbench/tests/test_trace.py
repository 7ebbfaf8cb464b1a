from kgbench.trace import Span, Tracer


def test_self_time_subtracts_the_union_of_children():
    t = Tracer()
    top = Span(0, "run_kg_pipeline", None, 0.0, 10.0)
    t.spans = [top,
               Span(1, "lineage.curate", 0, 1.0, 3.0),
               Span(2, "canonicalize", 0, 2.0, 6.0),   # overlaps curate
               Span(3, "canonicalize.cc", 2, 3.0, 5.0)]
    assert t.self_time(top) == 10.0 - 5.0
    assert [s.id for s in t.descendants(top)] == [1, 2, 3]


def test_patched_restores_and_names_spans():
    import types

    mod = types.SimpleNamespace(f=lambda x, stage: x + 1)
    t = Tracer()
    orig = mod.f
    with t.patched([(mod, "f", lambda a, k: f"lineage.{k['stage']}")]):
        with t.span("top"):
            assert mod.f(1, stage="extract") == 2
    assert mod.f is orig
    assert [(s.name, s.parent) for s in t.spans] == [
        ("top", None), ("lineage.extract", 0)]
