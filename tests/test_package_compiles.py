"""Every package module compiles with warnings raised as errors, so an
invalid escape in a string literal (a SyntaxWarning that later Pythons
turn into a SyntaxError) cannot slip into the emitted SQL unnoticed."""

from __future__ import annotations

import pathlib
import warnings

import youtube_api_data_etl_automation_spark as pkg


def test_package_modules_compile_without_warnings():
    files = sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py"))
    assert len(files) > 50
    for path in files:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(path.read_text(encoding="utf-8"), str(path), "exec")
