"""Mapping-DSL tile constructs: related-resources JSON objects, tile_data
COPY expansion, tile_other_fields, and the F13 json array-guard — including
byte-for-byte parity with the reference's staged place.csv."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from arches_rascoll_etl_spark.functions import text as TX
from arches_rascoll_etl_spark.plans.mapping import (
    TILE_DATA_COPY,
    FieldMapping,
    MappingSpec,
    RelatedResource,
    TileOtherField,
)

REL_T = "aaaa1111-0000-4000-8000-000000000001"
REL_I = "aaaa1111-0000-4000-8000-000000000002"


def test_related_resources_single_and_multi(spark):
    df = spark.createDataFrame(
        [
            ("i1", "val", "u-100", "u-200"),
            ("i2", "val", None, "u-300"),  # single absent → null column
            ("i3", "val", "", "NaN"),      # ''/'NaN' skipped like the reference
        ],
        "pk string, f string, to_a string, to_b string",
    )
    spec = MappingSpec(
        name="t",
        key=("pk",),
        fields=(
            FieldMapping(
                "f", "out", "copy",
                related=(
                    RelatedResource("to_a", REL_T, REL_I, target="single_objs"),
                    RelatedResource("to_a", REL_T, REL_I, target="multi_objs", multi_value=True),
                    RelatedResource("to_b", REL_T, REL_I, target="multi_objs", multi_value=True),
                ),
            ),
        ),
    )
    rows = {r["pk"]: r for r in spec.compile(df).collect()}

    single = json.loads(rows["i1"]["single_objs"])
    assert len(single) == 1
    (rx, obj), = single.items()
    assert obj == {
        "resourceId": "u-100",
        "ontologyProperty": REL_T,
        "resourceXresourceId": rx,
        "inverseOntologyProperty": REL_I,
    }
    multi = json.loads(rows["i1"]["multi_objs"])
    assert [o["resourceId"] for o in multi] == ["u-100", "u-200"]
    # minted ids are deterministic but distinct per (row, target uuid, rel)
    assert len({o["resourceXresourceId"] for o in multi} | {rx}) == 3

    assert rows["i2"]["single_objs"] is None
    assert [o["resourceId"] for o in json.loads(rows["i2"]["multi_objs"])] == ["u-300"]
    # '' and 'NaN' uuids are skipped entirely (reference null/NaN guard)
    assert rows["i3"]["single_objs"] is None
    assert rows["i3"]["multi_objs"] is None

    # determinism: recompiling mints identical ids (reference used uuid4 —
    # nondeterministic; the engine must be replay-stable)
    again = {r["pk"]: r for r in spec.compile(df).collect()}
    assert again["i1"]["single_objs"] == rows["i1"]["single_objs"]
    assert again["i1"]["multi_objs"] == rows["i1"]["multi_objs"]


def test_tile_other_fields_and_tile_data_gating(spark):
    df = spark.createDataFrame(
        [
            ("i1", "Athens", "fire.0"),
            ("i2", None, "water"),   # main source null → everything gated off
            ("i3", "Oslo", None),    # other source null → other col null only
        ],
        "pk string, place string, label string",
    )
    spec = MappingSpec(
        name="t",
        key=("pk",),
        fields=(
            FieldMapping(
                "place", "place_lang", "lang_dict_json",
                tile_other=(TileOtherField("label", "label_norm", "normalize_label"),),
                tile_data=(
                    ("node-type", ["t-uuid-1"]),
                    ("node-src", None),
                    ("node-content", TILE_DATA_COPY),
                ),
            ),
        ),
    )
    rows = {r["pk"]: r for r in spec.compile(df).collect()}
    td = json.loads(rows["i1"]["place_lang_tile_data"])
    assert td == {
        "node-type": ["t-uuid-1"],
        "node-src": None,
        "node-content": {"en": {"value": "Athens", "direction": "ltr"}},
    }
    assert rows["i1"]["label_norm"] == "FIRE"
    assert rows["i2"]["place_lang"] is None
    assert rows["i2"]["label_norm"] is None  # gated by main source
    assert rows["i2"]["place_lang_tile_data"] is None
    assert rows["i3"]["label_norm"] is None
    assert json.loads(rows["i3"]["place_lang_tile_data"])["node-content"][
        "en"
    ]["value"] == "Oslo"


def test_ensure_json_array_guard(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '[{"a": 1}]'), (3, None), (4, ' [1, 2]')],
        "id long, j string",
    )
    got = {r["id"]: r["out"] for r in df.select("id", TX.ensure_json_array("j").alias("out")).collect()}
    assert got[1] == '[{"a": 1}]'
    assert got[2] == '[{"a": 1}]'  # already an array: untouched
    assert got[3] is None
    assert got[4] == ' [1, 2]'  # leading-space array detected, untouched


_REFERENCE_PLACES = "/root/reference/data/gci-all-places.csv"


@pytest.mark.skipif(
    not os.path.exists(_REFERENCE_PLACES),
    reason=f"needs the reference checkout's {_REFERENCE_PLACES}",
)
def test_staged_shape_matches_reference_place_csv(spark):
    """Byte-for-byte parity with the reference's committed staging output:
    compile the reference's specific_place mapping (general_configs.py
    PLACE_MAPPING_CONFIGS + PLACE_NAME_TILE_DATA) with our DSL over the
    reference's raw places CSV and compare content + tile_data against
    data/place.csv for every staged row."""
    import csv

    raw_path = "/root/reference/data/gci-all-places.csv"
    staged_path = "/root/reference/data/place.csv"

    # reference constants (data values from the public reference configs)
    preferred_term = "8f40c740-3c02-4839-b1a4-f1460823a9fe"
    eng_value = "bc35776b-996f-4fc1-bd25-9f6432c1f349"
    name_tile_data = (
        ("3ddadbfe-d771-11ef-825b-0275dc2ded29", [preferred_term]),
        ("3ddaccea-d771-11ef-825b-0275dc2ded29", None),
        ("3ddadafa-d771-11ef-825b-0275dc2ded29", None),
        ("3ddadcee-d771-11ef-825b-0275dc2ded29", [eng_value]),
        ("3ddacdf8-d771-11ef-825b-0275dc2ded29", TILE_DATA_COPY),
    )

    raw = (
        # the raw CSV has embedded newlines in quoted fields
        spark.read.csv(raw_path, header=True, multiLine=True, escape='"')
        .select("place_uuid", "specific_place")
        .where(F.col("specific_place").isNotNull())
        .dropDuplicates(["place_uuid"])
    )
    spec = MappingSpec(
        name="place",
        key=("place_uuid",),
        fields=(
            FieldMapping(
                "specific_place",
                "specific_place_content",
                "lang_dict_json",
                tile_data=name_tile_data,
                tile_data_target="specific_place_tile_data",
            ),
        ),
    )
    ours = {
        r["place_uuid"]: r
        for r in spec.compile(raw).collect()
    }

    n_checked = n_bytes = 0
    with open(staged_path, newline="") as f:
        for row in csv.DictReader(f):
            pk = row["resourceinstanceid"]
            if pk not in ours or not row["specific_place_content"]:
                continue
            # value parity always; byte parity on ASCII rows (the reference
            # json.dumps escapes non-ASCII as \uXXXX, we emit raw UTF-8 —
            # the same JSON value)
            assert json.loads(ours[pk]["specific_place_content"]) == json.loads(
                row["specific_place_content"]
            )
            assert json.loads(ours[pk]["specific_place_tile_data"]) == json.loads(
                row["specific_place_tile_data"]
            )
            if ours[pk]["specific_place_content"].isascii():
                assert ours[pk]["specific_place_content"] == row["specific_place_content"]
                assert ours[pk]["specific_place_tile_data"] == row["specific_place_tile_data"]
                n_bytes += 1
            n_checked += 1
    assert n_checked > 100 and n_bytes > 100  # parity held across the staged table
