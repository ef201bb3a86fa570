"""The face registry (pdf_parser_spark/faces): one record per face, holding
its Spark build and its oracle SQL, and enumerable without a SparkSession."""

from __future__ import annotations

import os
import subprocess
import sys
import types

import pytest

from pdf_parser_spark.faces import ORDER, Face, collect, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _family(name, *faces):
    return types.SimpleNamespace(__name__=name, FACES=list(faces))


def _build(spark, sf_dir):
    return None


def test_face_defined_in_two_families_raises():
    a = _family("fam_a", Face("dup", _build, "SELECT 1"))
    b = _family("fam_b", Face("dup", _build, "SELECT 2"))
    with pytest.raises(ValueError, match="'dup' is defined in both fam_a and fam_b"):
        collect([a, b])


@pytest.mark.parametrize("face", [
    Face("no_oracle", _build, ""),
    Face("blank_oracle", _build, "  \n "),
    Face("no_build", None, "SELECT 1"),
], ids=lambda face: face.name)
def test_face_without_build_or_oracle_raises(face):
    with pytest.raises(ValueError, match="needs a build and a non-empty oracle"):
        collect([_family("fam", face)])


def test_every_face_has_a_build_and_an_oracle():
    faces = registry()
    assert list(faces)[:len(ORDER)] == list(ORDER)
    for name, face in faces.items():
        assert face.name == name
        assert callable(face.build), name
        assert isinstance(face.oracle, str) and face.oracle.strip(), name


def test_queries_and_oracles_need_no_session():
    """A fresh interpreter enumerates both views of the registry, with the
    same keys in the same order, and never starts a JVM."""
    code = (
        "import __spark_entry__ as e\n"
        "from pyspark import SparkContext\n"
        "q, o = e.queries(), e.oracle_sql()\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
        "print(len(q), list(q) == list(o))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == [str(len(registry())), "True"]
