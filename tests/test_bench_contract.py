"""The benchmark's patch table names live functions.

``perfbench/layers.py`` wraps module attributes in timing spans. A
refactor that removes or renames one breaks the traced run or zeroes a
per-layer metric; this pins every ``(module, attr)`` it patches, and every
store it sizes. No Spark session is started.
"""

import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


@pytest.fixture(scope="module")
def layers():
    sys.path.insert(0, PERFBENCH)
    try:
        import layers
    finally:
        sys.path.remove(PERFBENCH)
    return layers


def test_patched_layer_functions_resolve(layers):
    assert layers.PATCHES
    for module, attr, span, _ in layers.PATCHES:
        assert callable(getattr(module, attr, None)), (
            f"{module.__name__}.{attr} (span {span}) is gone"
        )


def test_state_stores_are_written(layers):
    """``streaming.state_bytes`` sums the stores ``layers.STATE_STORES``
    names: one the stream no longer writes would silently read 0."""
    from rust_gd_spark import streaming

    assert layers.STATE_STORES
    assert set(layers.STATE_STORES) <= set(streaming._STORES)
