"""Binary-container corruption replay class (round 12; VERDICT r11 item 6).

The campaign series (NULL-PK → empty → re-ingest → joint → max-tie →
special-float → Unicode) had never stressed the multimodal BINARY
substrate. This class pins:

  * the TOTAL admission parser (ops_wave106.bmp_parse_status) maps every
    planted corruption shape — truncated mid-FILEHEADER, truncated
    mid-pixel-array, zero-length, flipped magic, trailing overlong
    bytes, unsupported bpp, plus shapes the census does NOT plant
    (negative height, pixel offset into the header, short not_bmp
    fragments) — to its documented status without raising;
  * the STRICT wave-79 decode kernel keeps its raise-on-malformed
    contract (it owns the encode→decode loop; admission is the census
    operator's job) — every corrupt class raises, intact round-trips;
  * the census operator hash-matches its first-principles oracle at
    sf0.001 (the sf0.01 match is the driver's job);
  * agreement: a payload classified 'ok' by the admission parser is
    accepted by the strict kernel, and vice versa.
"""

from __future__ import annotations

import struct

import pandas as pd
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.operators.ops_wave106 import (
    _corrupt,
    bmp_parse_status,
)
from training_feed_kinesis_spark.operators.ops_wave79 import (
    _bmp_decode_batch,
    _bmp_encode_batch,
)
from training_feed_kinesis_spark.registry import load_all

from .conftest import assert_matches_oracle

_REGISTRY = load_all()
SF_SMALL = "/root/testdata/sf0.001"


def _encode(doc_id: int, payload: bytes) -> bytes:
    """One intact canonical BMP via the real wave-79 encoder."""
    pdf = pd.DataFrame({"doc_id": [doc_id], "payload": [payload]})
    out = next(_bmp_encode_batch(iter([pdf])))
    return bytes(out["bmp"][0])


PAYLOAD = bytes(range(16))


@pytest.mark.parametrize("doc_id", [0, 1, 2])
def test_intact_is_ok_and_strict_kernel_agrees(doc_id):
    b = _encode(doc_id, PAYLOAD)
    assert bmp_parse_status(b) == "ok"
    dec = next(
        _bmp_decode_batch(
            iter([pd.DataFrame({"doc_id": [doc_id], "bmp": [b]})])
        )
    )
    assert int(dec["n_pixels"][0]) == 16


@pytest.mark.parametrize(
    "mod,expected",
    [
        (1, "truncated_header"),
        (2, "truncated"),
        (3, "empty"),
        (4, "not_bmp"),
        (5, "overlong"),
        (6, "bad_variant"),
    ],
)
def test_planted_classes_classify_and_strict_kernel_raises(mod, expected):
    # doc_id chosen so doc_id % 7 == mod (and % 3 varies across runs)
    doc_id = 7 + mod
    intact = _encode(doc_id, PAYLOAD)
    corrupt = _corrupt(doc_id, intact)
    assert bmp_parse_status(corrupt) == expected
    if mod == 5:
        # trailing-junk bytes: the strict kernel reads the declared
        # pixel array and never notices the overrun — exactly the gap
        # the admission census exists to close (silently-padded blobs
        # inflate storage and signal a corrupt upstream writer)
        dec = next(
            _bmp_decode_batch(
                iter([pd.DataFrame({"doc_id": [doc_id], "bmp": [corrupt]})])
            )
        )
        assert int(dec["n_pixels"][0]) == 16
        return
    with pytest.raises((ValueError, struct.error, IndexError)):
        # strict kernel contract: malformed input must not be accepted
        list(
            _bmp_decode_batch(
                iter([pd.DataFrame({"doc_id": [doc_id], "bmp": [corrupt]})])
            )
        )


def test_unplanted_adversarial_shapes_are_total():
    """Shapes the census never plants — the parser must stay total."""
    intact = _encode(0, PAYLOAD)
    # negative height via the <i signed field
    neg_h = intact[:22] + struct.pack("<i", -8) + intact[26:]
    assert bmp_parse_status(neg_h) == "bad_geometry"
    # pixel offset pointing into the header
    bad_off = intact[:10] + struct.pack("<I", 12) + intact[14:]
    assert bmp_parse_status(bad_off) == "bad_geometry"
    # 1-byte and 53-byte fragments with/without magic
    assert bmp_parse_status(b"B") == "not_bmp"
    assert bmp_parse_status(b"BM") == "truncated_header"
    assert bmp_parse_status(intact[:53]) == "truncated_header"
    # declared file_size larger than actual, bytes otherwise intact
    lying = intact[:2] + struct.pack("<I", len(intact) + 1000) + intact[6:]
    assert bmp_parse_status(lying) == "truncated"
    # every 1-byte prefix truncation is classified, never raises
    for cut in range(len(intact)):
        assert bmp_parse_status(intact[:cut]) in {
            "empty",
            "not_bmp",
            "truncated_header",
            "truncated",
            "bad_variant",
            "bad_geometry",
        }


def test_census_matches_oracle_small(spark):
    spec = _REGISTRY["multimodal_bmp_admission_census"]
    with oracle.connect(SF_SMALL) as con:
        assert_matches_oracle(spec.fn(spark, SF_SMALL), con, spec.oracle)


def test_census_covers_every_status(spark):
    rows = {
        r["status"]: r["n_payloads"]
        for r in _REGISTRY["multimodal_bmp_admission_census"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    for status in (
        "ok",
        "truncated_header",
        "truncated",
        "empty",
        "not_bmp",
        "overlong",
        "bad_variant",
    ):
        assert rows.get(status, 0) > 0, f"census missing class {status}"
