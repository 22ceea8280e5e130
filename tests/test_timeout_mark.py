"""The ``timeout`` mark's deadline (tests/conftest.py) really fires."""

from __future__ import annotations

import time

import pytest

from tests.conftest import deadline


def test_deadline_interrupts_a_slow_call():
    t0 = time.monotonic()
    with pytest.raises(pytest.fail.Exception, match="timed out after 1s"):
        with deadline(1):
            time.sleep(5)
    assert time.monotonic() - t0 < 3
