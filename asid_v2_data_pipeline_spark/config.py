"""Pipeline configuration with the reference's derived-parameter algebra.

Mirrors ``postprocess_the_args`` (/root/reference/asip_v2/utility.py:60-103)
and the older aspect-ratio generation pinned by
/root/reference/asip_v2/tests/test_utility.py:17-39 (700, 50 -> window2 14).
Both CLI generations coexist in the reference snapshot; we support both
derivations behind one dataclass (SURVEY.md §7.3 item 3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

AMSR2_FREQUENCIES = ("6.9", "7.3", "10.7", "18.7", "23.8", "36.5", "89.0")


def amsr2_names() -> list[str]:
    # /root/reference/asip_v2/utility.py:64-79 — 14 btemp channels
    return [f"btemp_{f}{p}" for f in AMSR2_FREQUENCIES for p in ("h", "v")]


def sar_names(noise_method: str = "nersc_") -> list[str]:
    # /root/reference/asip_v2/utility.py:44-45,80
    if noise_method not in ("", "nersc_"):
        raise ValueError("noise_method must be '' or 'nersc_'")
    return [f"{noise_method}sar_primary", f"{noise_method}sar_secondary"]


def validate_fraction(value: float) -> float:
    # /root/reference/asip_v2/utility.py:13-18 — float in (0, 1]
    value = float(value)
    if not (0.0 < value <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {value}")
    return value


@dataclass
class PipelineConfig:
    """Engine configuration.  New-API derivation (utility.py:81-97):
    ``stride_amsr2 = window_amsr2 * stride_sar / window_sar`` and
    ``resample_step_amsr2 = window_sar / window_amsr2``.
    Old-API derivation (tests/test_utility.py:17-39):
    ``window_amsr2 = window_sar / aspect_ratio``.
    """

    window_sar: int = 256
    stride_sar: int = 256
    window_amsr2: int = 64
    aspect_ratio: int | None = None  # old API: window_amsr2 = window_sar / aspect
    resize_step_sar: int = 1
    rm_swath: int = 0
    distance_threshold: int = 0
    encoding: str = "binary"  # {'binary', 'continous'} — misspelling is the API
    noise_method: str = "nersc_"
    batch_size: int = 32
    percentage: float = 0.8
    beginning_day_of_year: int = 0
    ending_day_of_year: int = 365
    # strict_reference_semantics: keep the reference's quirks (f[-1] wrap,
    # lexicographic tuple max, day-of-year off-by-one) — SURVEY.md §7.3 item 2
    strict_reference_semantics: bool = True
    names_sar: list[str] = field(default_factory=list)
    names_amsr2: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.encoding not in ("binary", "continous"):
            raise ValueError(f"encoding must be 'binary'|'continous', got {self.encoding}")
        if self.aspect_ratio is not None:
            # old API, pinned at tests/test_utility.py:17-39 (700, 50 -> 14)
            if self.window_sar % self.aspect_ratio:
                raise ValueError("window size must be dividable to aspect ratio")
            if self.stride_sar % self.aspect_ratio:
                raise ValueError("stride size must be dividable to aspect ratio")
            self.window_amsr2 = self.window_sar // self.aspect_ratio
        if not self.names_sar:
            self.names_sar = sar_names(self.noise_method)
        if not self.names_amsr2:
            self.names_amsr2 = amsr2_names()
        validate_fraction(self.percentage)

    @property
    def stride_amsr2(self) -> int:
        # utility.py:90 — scale the SAR stride onto the AMSR2 grid
        return int(self.window_amsr2 * self.stride_sar / self.window_sar)

    @property
    def resample_step_amsr2(self) -> int:
        # utility.py:92
        return int(self.window_sar / self.window_amsr2)
