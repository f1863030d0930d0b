"""Generator checks: seeded, keys scale with the size parameter, and the
loader's inserted rows equal :func:`gen.expected_rows`."""

import re
import xml.etree.ElementTree as ET

import pytest

import gen

_GUID_RE = re.compile(r"<(\w+_GUID)>([^<]*)<")


def _tag_counts(xml: str) -> dict[str, int]:
    root = ET.fromstring(xml.encode())
    counts: dict[str, int] = {}
    for el in root:
        tag = el.tag.split("}")[1]
        counts[tag] = counts.get(tag, 0) + 1
    return counts


def _keys(xml: str) -> set[tuple[str, str]]:
    return set(_GUID_RE.findall(xml))


@pytest.mark.parametrize("replicas", [1, 2, 5, 40])
def test_expected_rows_scale_linearly(replicas):
    base = gen.expected_rows(1, 1)
    for n_files in (1, 3):
        assert gen.expected_rows(replicas, n_files) == {
            t: n * replicas * n_files for t, n in base.items()
        }


def test_replica_rows_scale_and_catalogue_stays():
    one = _tag_counts(gen.export_xml(0, 1, seed=3))
    many = _tag_counts(gen.export_xml(0, 7, seed=3))
    for tag, n in one.items():
        want = n if tag in gen.CATALOGUE_TAGS else 7 * n
        assert many[tag] == want, tag


def test_same_seed_same_bytes_other_seed_other_keys():
    a = gen.export_xml(2, 3, seed=5)
    assert a == gen.export_xml(2, 3, seed=5)
    assert _keys(a) != _keys(gen.export_xml(2, 3, seed=6))


def test_reexport_keeps_keys_and_redraws_values():
    first = gen.export_xml(4, 6, seed=9, variant=0)
    again = gen.export_xml(4, 6, seed=9, variant=1)
    assert _keys(first) == _keys(again)
    assert first != again


def test_overlapping_replica_ranges_share_keys():
    catalogue = {g.lower() for g in gen._CATALOGUE_GUIDS}

    def own(xml):
        return {v for _t, v in _keys(xml) if v.lower() not in catalogue}

    a = own(gen.export_xml(0, 4, seed=2))
    b = own(gen.export_xml(0, 4, seed=2, variant=1, first_replica=2))
    assert a & b and a - b and b - a
    assert len(a & b) == len(a) // 2


def test_files_have_disjoint_keys():
    a = {v for t, v in _keys(gen.export_xml(0, 2, seed=1)) if t not in ("Method_GUID",)}
    b = {v for t, v in _keys(gen.export_xml(1, 2, seed=1)) if t not in ("Method_GUID",)}
    shared = {v for v in a & b}
    # only the method catalogue (and its lookups) is shared
    assert all(v.lower() in {g.lower() for g in gen._CATALOGUE_GUIDS} for v in shared)


def test_documents_seeded_with_fixed_dup_structure():
    a, b = gen.documents(200, 1), gen.documents(200, 2)
    assert a == gen.documents(200, 1) and a != b
    for docs in (a, b):
        for i in range(9, 200, 10):
            prev, dup = docs[i - 1][1].split(), docs[i][1].split()
            assert len(prev) == len(dup)
            assert sum(x != y for x, y in zip(prev, dup)) <= len(prev) // 20


def test_loader_inserts_expected_rows(spark, tmp_path):
    from ffi_export_etl_spark.plans import batch_driver

    gen.write_exports(str(tmp_path / "in"), [(0, 0, 0), (1, 0, 0)], replicas=3, seed=4)
    loaded = batch_driver.process_exports_glob(
        spark, str(tmp_path / "in" / "*.xml"), str(tmp_path / "wh")
    )
    assert loaded == gen.expected_rows(3, 2)
    # file 0 again under a new path, replicas 2..4: replica 2 is a
    # re-export, 3 and 4 are new
    gen.write_exports(str(tmp_path / "again"), [(0, 1, 2)], replicas=3, seed=4, name_prefix="re")
    again = batch_driver.process_exports_glob(
        spark, str(tmp_path / "again" / "*.xml"), str(tmp_path / "wh")
    )
    assert again == gen.expected_rows(2)
