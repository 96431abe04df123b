"""``scripts/scale_parity.py`` runs by hand for minutes to hours per tier,
so check its tables and its ``--only`` contract here, without Spark: a
renamed query used to surface only as a ``KeyError`` result minutes into
a tier run."""

from __future__ import annotations

import pytest

import dask_image_spark.session as session
from dask_image_spark import queries as q
from scripts import scale_parity as sp


@pytest.mark.parametrize("tier", sorted(sp.TIERS))
def test_tier_names_are_registered(tier):
    q.load_all()
    t = sp.TIERS[tier]
    missing = [n for n in t.engine_only + t.sweep if n not in q.REGISTRY]
    assert not missing, missing


def test_rotations_keep_translate_one_to_one():
    letters = "".join(sp.ALPHABETS)
    assert len(set(letters)) == len(letters), "alphabets overlap"
    for alphabet in sp.ALPHABETS:
        rots = sp.rotations(alphabet)
        assert rots[0] == alphabet
        assert len(set(rots)) == 4
        assert all(sorted(r) == sorted(alphabet) for r in rots)


@pytest.mark.parametrize("only", ["q1_pricing_summary,no_such_query", "@"])
def test_unknown_only_name_exits_before_session(only, monkeypatch, tmp_path):
    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    if only == "@":
        names = tmp_path / "names.txt"
        names.write_text("q1_pricing_summary\nno_such_query\n")
        only += str(names)
    with pytest.raises(SystemExit) as exc:
        sp.main(["--tier", "16", "--only", only])
    assert exc.value.code == 2
