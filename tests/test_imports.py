"""Every module under pdf_parser_spark/ and jobs/ imports.

A deletion that leaves a dangling import fails here, at test time, rather
than later at whichever call site first reaches the broken module. Jobs
are imported as modules of the ``jobs`` namespace package; each keeps its
work behind a ``__main__`` guard, so importing one runs nothing."""

from __future__ import annotations

import importlib
import os
import pkgutil
import sys

import pytest

import pdf_parser_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

MODULES = sorted(
    [m.name for m in pkgutil.walk_packages(pdf_parser_spark.__path__,
                                            "pdf_parser_spark.")]
    + [m.name for m in pkgutil.walk_packages([os.path.join(REPO, "jobs")],
                                             "jobs.")])


def test_walk_finds_package_and_jobs():
    assert "pdf_parser_spark.operators.merge" in MODULES
    assert "jobs.extract_job" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
