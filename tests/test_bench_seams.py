"""The end-to-end benchmark (kgbench) times the pipeline by patching named
program attributes and calling a few helpers directly; a refactor that
renames or reshapes one breaks ``--trace 1`` runs without failing any
pipeline test.  Pin those seams here."""

import inspect

from kgbench.run import layer_targets


class _StubTracer:
    def current(self):
        return None

    def children(self, span):
        return []


def test_traced_attributes_exist_and_are_callable():
    targets = layer_targets(_StubTracer())
    assert targets
    for owner, attr, _ in targets:
        assert callable(getattr(owner, attr, None)), \
            f"{owner.__name__}.{attr} is no longer a callable"


def test_directly_called_helper_signatures():
    from seq2kg_spark.operators import canonicalize as C
    from seq2kg_spark.operators.tagger_infer import _infer_batches

    inspect.signature(C.similarity_edges).bind(None, threshold=0.55,
                                               stats={})
    inspect.signature(C.mentions_from_triples).bind(None)
    inspect.signature(C.release_caches).bind(None, None)
    assert list(inspect.signature(_infer_batches).parameters) == [
        "weights_bc", "dim"]
