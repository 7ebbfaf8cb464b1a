from kgbench.check import compare_summary, compare_triples, kernel_triples

TEXT = ("Acme acquired its engine platform at the Globex Market Exhibition "
        "in London. Wayne launched its sensor index at the Stark Vehicle "
        "Exhibition in Perth.")


def _flip(triples):
    url, s, p, o = triples[0]
    return [(url, s, p, o + "_flipped")] + triples[1:]


def test_kernel_agrees_with_itself_and_catches_a_flipped_triple():
    want = kernel_triples("rule", [("u1", TEXT)])
    assert want, "the sample text must yield triples"
    assert compare_triples(want, list(reversed(want))) == []
    errors = compare_triples(want, _flip(want))
    assert len(errors) == 2
    assert errors[0].startswith("missing") and errors[1].startswith(
        "unexpected")


def test_duplicate_triples_count_as_a_mismatch():
    t = ("u", "a", "b", "c")
    assert compare_triples([t, t], [t]) == ["missing ('u', 'a', 'b', 'c') x1"]


def test_summary_check_catches_a_changed_fingerprint():
    want = {"curated": 10, "triples": 20, "nodes": 3, "edges": 4,
            "fingerprint": "v4|n=20|x=1"}
    assert compare_summary(dict(want), want) == []
    assert compare_summary({**want, "fingerprint": "v4|n=20|x=2"}, want) == [
        "fingerprint: got 'v4|n=20|x=2', want 'v4|n=20|x=1'"]
    assert compare_summary({}, None) == []
