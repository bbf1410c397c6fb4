"""Import the read-only reference checkout (/root/reference) for DIRECT
differential testing, stubbing third-party deps that are not in this
container (uncertainties, scipy, sklearn, matplotlib...).

The stubs are import-time only: if a stubbed symbol is actually CALLED by
a code path under test, it raises, so tests cannot silently depend on
fake behavior. Only pandas/numpy — which are real — execute in the
reference paths we compare against (resample, z-score, interpolation,
LocalSD, QCF)."""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import types

REF = "/root/reference"


class _StubAttr:
    def __init__(self, name):
        self._name = name

    def __call__(self, *a, **k):
        raise RuntimeError(f"stubbed dependency used at runtime: {self._name}")

    def __getattr__(self, item):
        return _StubAttr(f"{self._name}.{item}")


def _stub(name: str) -> types.ModuleType:
    m = types.ModuleType(name)
    m.__path__ = []
    # a real ModuleSpec so importlib.util.find_spec probes (e.g. pyspark's
    # scipy detection) don't raise "__spec__ is None"
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None, is_package=True)
    # PEP 562 module __getattr__: any `from stub import X` yields a callable
    # sentinel that raises on use — no per-name patching needed
    m.__getattr__ = lambda attr, _n=name: _StubAttr(f"{_n}.{attr}")
    sys.modules[name] = m
    parent, _, child = name.rpartition(".")
    if parent and parent in sys.modules:
        setattr(sys.modules[parent], child, m)
    return m


def load_reference():
    """Returns a namespace of reference functions, or None if the checkout
    is absent or the import cannot converge (tests should skip). Only
    third-party dependencies are stubbed, never a ``diive`` module."""
    if not os.path.isdir(os.path.join(REF, "diive")):
        return None
    if REF not in sys.path:
        sys.path.insert(0, REF)
    for _ in range(200):
        try:
            from diive.core.funcs.funcs import zscore  # noqa: F401
            from diive.core.times.resampling import (  # noqa: F401
                resample_series_to_30MIN,
            )
            from diive.pkgs.gapfilling.interpolate import (  # noqa: F401
                linear_interpolation,
            )
            from diive.core.dfun.stats import sstats  # noqa: F401
            from diive.core.times.times import DetectFrequency  # noqa: F401
            from diive.pkgs.analyses.correlation import (  # noqa: F401
                daily_correlation,
            )
            from diive.pkgs.analyses.gapfinder import GapFinder  # noqa: F401
            from diive.pkgs.analyses.histogram import Histogram  # noqa: F401
            from diive.pkgs.createvar.potentialradiation import potrad  # noqa: F401
            from diive.pkgs.createvar.vpd import calc_vpd_from_ta_rh  # noqa: F401
            from diive.pkgs.outlierdetection.absolutelimits import (  # noqa: F401
                AbsoluteLimits,
            )
            from diive.pkgs.outlierdetection.incremental import (  # noqa: F401
                zScoreIncrements,
            )
            from diive.pkgs.outlierdetection.localsd import LocalSD  # noqa: F401
            from diive.pkgs.qaqc.qcf import FlagQCF  # noqa: F401
            from diive.pkgs.qaqc import eddyproflags  # noqa: F401
            from diive.pkgs.flux.uncertainty import (  # noqa: F401
                RandomUncertaintyPAS20,
            )

            return types.SimpleNamespace(
                RandomUncertaintyPAS20=RandomUncertaintyPAS20,
                eddyproflags=eddyproflags,
                resample_series_to_30MIN=resample_series_to_30MIN,
                zscore=zscore,
                linear_interpolation=linear_interpolation,
                LocalSD=LocalSD,
                zScoreIncrements=zScoreIncrements,
                AbsoluteLimits=AbsoluteLimits,
                GapFinder=GapFinder,
                Histogram=Histogram,
                sstats=sstats,
                DetectFrequency=DetectFrequency,
                FlagQCF=FlagQCF,
                potrad=potrad,
                calc_vpd_from_ta_rh=calc_vpd_from_ta_rh,
                daily_correlation=daily_correlation,
            )
        except ModuleNotFoundError as e:
            missing = str(e).split("'")[1]
            if missing.split(".")[0] == "diive":
                return None  # incomplete checkout: never stub diive itself
            _stub(missing)
        except ImportError as e:
            m = re.match(r"cannot import name '(\w+)' from '([\w.]+)'", str(e))
            if not m:
                return None
            attr, parent = m.groups()
            if parent not in sys.modules:
                _stub(parent)
            setattr(sys.modules[parent], attr, _StubAttr(f"{parent}.{attr}"))
        except Exception:
            return None
    return None
