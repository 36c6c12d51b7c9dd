"""scripts/extract_job.py's command line: bad positionals exit 2 with usage."""

import sys

import pytest

from scripts import extract_job


@pytest.mark.parametrize(
    "args",
    [
        ["pages", "out", "8", "16", "8"],  # five positionals, one too many
        ["pages", "out", "eight"],
        ["pages", "out", "8", "4.5"],
    ],
)
def test_bad_positionals_exit_2_with_usage(monkeypatch, capsys, args):
    monkeypatch.setattr(sys, "argv", ["extract_job.py", *args])
    with pytest.raises(SystemExit) as exc:
        extract_job.main()
    assert exc.value.code == 2
    assert "<pages_dir> <out_dir> [n_groups] [files_per_day]" in capsys.readouterr().err
