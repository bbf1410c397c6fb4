"""S9/S10 differential tests: YAML filetype config validation vs the
reference's ``validate_filetype_config``, and the files-overview
scaffold vs the reference's ``FileDetector``."""

from __future__ import annotations

import copy
import datetime as dt
from pathlib import Path

import pandas as pd
import pytest

from diive_spark.sources.configs import (
    files_overview,
    files_overview_pdf,
    filetype_reader_options,
    read_filetype_config,
    strptime_to_spark,
    validate_filetype_config,
)

def import_ref(name: str):
    """Import one reference module, stubbing missing third-party deps the
    same way load_reference does (its stub machinery is reused)."""
    import importlib
    import re
    import sys

    from tests import reference_import as ri

    if ri.load_reference() is None:  # installs REF on sys.path + base stubs
        pytest.skip(f"reference checkout {ri.REF} not present")
    for _ in range(50):
        try:
            return importlib.import_module(name)
        except ModuleNotFoundError as e:
            ri._stub(str(e).split("'")[1])
        except ImportError as e:
            m = re.match(r"cannot import name '(\w+)' from '([\w.]+)'", str(e))
            if not m:
                raise
            attr, parent = m.groups()
            if parent not in sys.modules:
                ri._stub(parent)
            setattr(sys.modules[parent], attr, ri._StubAttr(f"{parent}.{attr}"))
    raise RuntimeError(f"could not import {name}")


YAML_TEXT = """\
GENERAL:
  NAME: "TEST-CSV-30MIN"
  DESCRIPTION: "test filetype"
  TAGS: [ "TEST" ]

FILE:
  EXTENSION: "*.csv"
  COMPRESSION: "None"

TIMESTAMP:
  DESCRIPTION: "1 column full timestamp"
  INDEX_COLUMN: [ [ "date", "[yyyy-mm-dd]" ], [ "time", "[HH:MM]" ] ]
  DATETIME_FORMAT: "%Y-%m-%d %H:%M:%S"
  SHOWS_START_MIDDLE_OR_END_OF_RECORD: "middle"

DATA:
  HEADER_SECTION_ROWS: [ 0, 1 ]
  SKIP_ROWS: [ ]
  HEADER_ROWS: [ 0, 1 ]
  NA_VALUES: [ -9999, "NA", "-" ]
  FREQUENCY: "30T"
  DELIMITER: ","
"""


def test_config_read_and_validate(tmp_path):
    p = tmp_path / "ft.yml"
    p.write_text(YAML_TEXT)
    cfg = read_filetype_config(p)
    assert cfg["FILE"]["COMPRESSION"] is None
    assert cfg["TIMESTAMP"]["INDEX_COLUMN"] == [
        ("date", "[yyyy-mm-dd]"),
        ("time", "[HH:MM]"),
    ]
    opts = filetype_reader_options(cfg)
    assert opts["sep"] == ","
    assert opts["units_row"] is True
    assert opts["na_values"] == ["-9999", "NA", "-"]
    assert opts["ts_format"] == "yyyy-MM-dd HH:mm:ss"


def test_validate_matches_reference():
    import yaml

    ref_fr = import_ref("diive.core.io.filereader")
    cfg_a = yaml.safe_load(YAML_TEXT)
    cfg_b = copy.deepcopy(cfg_a)
    ours = validate_filetype_config(cfg_a)
    theirs = ref_fr.validate_filetype_config(config=cfg_b)
    assert ours == theirs

    # the '-not-available-' arms too
    cfg_a = yaml.safe_load(YAML_TEXT)
    cfg_a["TIMESTAMP"]["INDEX_COLUMN"] = "-not-available-"
    cfg_a["TIMESTAMP"]["DATETIME_FORMAT"] = "-not-available-"
    cfg_b = copy.deepcopy(cfg_a)
    assert validate_filetype_config(cfg_a) == ref_fr.validate_filetype_config(
        config=cfg_b
    )


def test_validate_on_shipped_reference_configs():
    """Every filetype YAML shipped with the reference validates identically."""
    import yaml

    ref_fr = import_ref("diive.core.io.filereader")
    cfg_dir = Path("/root/reference/diive/configs/filetypes")
    n = 0
    for yml in sorted(cfg_dir.glob("*.yml")):
        with open(yml, encoding="utf-8") as f:
            raw = yaml.safe_load(f)
        ours = validate_filetype_config(copy.deepcopy(raw))
        theirs = ref_fr.validate_filetype_config(config=copy.deepcopy(raw))
        assert ours == theirs, yml.name
        n += 1
    assert n >= 5


def _make_files(tmp_path) -> list[Path]:
    # 6-hourly generation with one missing slot and one off-grid file
    names = [
        "20240101-000000.dat",
        "20240101-060000.dat",
        # 12:00 missing
        "20240101-180000.dat",
        "20240101-210000.dat",  # off-grid (not on the 6h grid)
        "20240102-000000.dat",
    ]
    out = []
    for i, n in enumerate(names):
        p = tmp_path / n
        p.write_bytes(b"x" * (10 + i))
        out.append(p)
    return out


def test_files_overview_matches_reference(tmp_path):
    ref_fd = import_ref("diive.core.io.filedetector")
    files = _make_files(tmp_path)
    fmt = "%Y%m%d-%H%M%S.dat"

    det = ref_fd.FileDetector(
        filelist=files,
        file_date_format=fmt,
        file_generation_res="6h",
        data_res=0.05,
        files_how_many=None,
    )
    det.run()
    want = det.get_results()
    got = files_overview_pdf(files, fmt, "6h", 0.05)

    pd.testing.assert_index_equal(got.index, want.index)
    for col in ["file_available", "filename", "filesize", "expected_records"]:
        pd.testing.assert_series_equal(
            got[col], want[col], check_dtype=False, check_names=False
        )

    # files_how_many cutoff
    det2 = ref_fd.FileDetector(
        filelist=files, file_date_format=fmt, file_generation_res="6h",
        data_res=0.05, files_how_many=2,
    )
    det2.run()
    got2 = files_overview_pdf(files, fmt, "6h", 0.05, files_how_many=2)
    pd.testing.assert_index_equal(got2.index, det2.get_results().index)


def test_files_overview_spark_frame(spark, tmp_path):
    files = _make_files(tmp_path)
    df = files_overview(spark, files, "%Y%m%d-%H%M%S.dat", "6h", 0.05)
    rows = {r["expected_dt_s"]: r for r in df.collect()}
    base = int(dt.datetime(2024, 1, 1).timestamp())
    assert rows[base]["file_available"] == 1
    assert rows[base + 12 * 3600]["file_available"] == 0  # missing slot
    assert rows[base + 21 * 3600]["file_available"] == 1  # off-grid file
    assert rows[base]["filesize"] == 10
