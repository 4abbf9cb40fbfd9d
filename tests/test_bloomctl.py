"""bloomctl CLI — the batch analog of fever's mgmt bloom control plane
(cmd/fever/cmds/bloom.go:24-69, mgmt/mgmtserver.go:96-183): create/add/
show/reload over the durable filter FILE, with atomic replacement."""

import json

import numpy as np
import pytest

from fever_spark.jobs.bloomctl import main
from fever_spark.sketch.bloom import BloomFilter


def run(capsys, *argv):
    rc = main(list(argv))
    out = capsys.readouterr().out.strip()
    return rc, (json.loads(out) if out else None)


class TestBloomctl:
    def test_create_add_show_roundtrip(self, tmp_path, capsys):
        f = str(tmp_path / "iocs.bloom.gz")
        rc, out = run(capsys, "create", "--out", f, "--capacity", "1000",
                      "--fpp", "1e-6", "evil.example", "bad.host")
        assert rc == 0 and out["n_inserted"] == 2

        rc, out = run(capsys, "add", "--file", f, "worse.example")
        assert rc == 0 and out["added"] == 1 and out["n_inserted"] == 3

        rc, out = run(capsys, "show", "--file", f, "--check",
                      "evil.example", "worse.example", "innocent.example")
        assert rc == 0
        assert out["check"]["evil.example"] is True      # zero FN invariant
        assert out["check"]["worse.example"] is True
        assert out["check"]["innocent.example"] is False

        # file loads as a genuine BloomFilter (gz inferred)
        bf = BloomFilter.load(f)
        assert bool(bf.contains(np.array(["bad.host"], dtype=object))[0])

    def test_add_from_file_and_stdin(self, tmp_path, capsys, monkeypatch):
        f = str(tmp_path / "x.bloom")
        lst = tmp_path / "vals.txt"
        lst.write_text("a.example\nb.example\n\n")
        rc, out = run(capsys, "create", "--out", f, "--capacity", "100",
                      "--from-file", str(lst))
        assert rc == 0 and out["n_inserted"] == 2

        import io
        monkeypatch.setattr("sys.stdin", io.StringIO("c.example\n"))
        rc, out = run(capsys, "add", "--file", f, "-")
        assert rc == 0 and out["n_inserted"] == 3

    def test_add_corrupt_file_requires_force_recover(self, tmp_path, capsys):
        # round-8 ADVICE: a CLI that MUTATES the durable file must not
        # silently discard a possibly-valid IOC filter — corrupt content
        # fails the add unless --force-recover is explicit
        f = tmp_path / "junk.bloom"
        f.write_bytes(b"not a filter at all")
        rc = main(["add", "--file", str(f), "v1"])
        cap = capsys.readouterr()
        assert rc == 1 and "--force-recover" in cap.err
        assert f.read_bytes() == b"not a filter at all"  # untouched

        rc = main(["add", "--file", str(f), "--capacity", "500",
                   "--fpp", "1e-5", "--force-recover", "v1"])
        cap = capsys.readouterr()
        out = json.loads(cap.out.strip())
        assert rc == 0 and out["recovered"] is True
        assert out["n_inserted"] == 1 and out["capacity"] == 500
        assert "prior contents lost" in cap.err
        assert BloomFilter.load(str(f)).n_inserted == 1

    def test_add_corrupt_gzip_is_corruption_not_io_error(self, tmp_path,
                                                         capsys):
        # gzip.BadGzipFile ⊂ OSError: a truncated .gz must land on the
        # corruption path (recoverable with --force-recover), not be
        # misclassified as a transient IO error
        f = tmp_path / "trunc.bloom.gz"
        f.write_bytes(b"\x1f\x8b\x08\x00trunc")
        rc = main(["add", "--file", str(f), "v1"])
        assert rc == 1 and "--force-recover" in capsys.readouterr().err
        rc = main(["add", "--file", str(f), "--force-recover", "v1"])
        capsys.readouterr()
        assert rc == 0

    def test_add_io_error_never_replaces(self, tmp_path, capsys,
                                         monkeypatch):
        # an EACCES-style READ failure exits non-zero and leaves the file
        # alone — a valid filter must never be discarded over transient IO
        import builtins

        f = tmp_path / "ok.bloom"
        run(capsys, "create", "--out", str(f), "v0")
        before = f.read_bytes()
        real_open = builtins.open

        def deny(path, *a, **kw):
            if str(path) == str(f):
                raise PermissionError(13, "Permission denied", str(f))
            return real_open(path, *a, **kw)

        monkeypatch.setattr(builtins, "open", deny)
        rc = main(["add", "--file", str(f), "--force-recover", "v1"])
        cap = capsys.readouterr()
        monkeypatch.undo()
        assert rc == 1 and "IO error" in cap.err
        assert f.read_bytes() == before

    def test_add_missing_file_is_first_add(self, tmp_path, capsys):
        # a MISSING file is a first add, not a recovery
        g = str(tmp_path / "new.bloom")
        rc, out = run(capsys, "add", "--file", g, "v1")
        assert rc == 0 and "recovered" not in out

    def test_stdin_marker_among_values(self, tmp_path, capsys, monkeypatch):
        # round-7 ADVICE: '-' is stdin wherever it appears, never a
        # literal inserted value
        import io
        f = str(tmp_path / "x.bloom")
        monkeypatch.setattr("sys.stdin", io.StringIO("mid.example\n"))
        rc, out = run(capsys, "create", "--out", f, "a.example", "-",
                      "b.example")
        assert rc == 0 and out["n_inserted"] == 3
        bf = BloomFilter.load(f)
        hits = bf.contains(np.array(
            ["a.example", "mid.example", "b.example", "-"], dtype=object))
        assert list(hits) == [True, True, True, False]
        with pytest.raises(SystemExit):
            main(["add", "--file", f, "-", "x", "-"])

    def test_add_without_values_errors(self, tmp_path, capsys):
        f = str(tmp_path / "x.bloom")
        run(capsys, "create", "--out", f)
        assert main(["add", "--file", f]) == 2

    def test_reload_validates(self, tmp_path, capsys):
        f = str(tmp_path / "x.bloom.gz")
        run(capsys, "create", "--out", f, "v1")
        rc, out = run(capsys, "reload", "--file", f)
        assert rc == 0 and out["reload_ok"] is True and out["state_bytes"] > 0

        bad = tmp_path / "bad.bloom"
        bad.write_bytes(b"\x00\x01")
        rc, out = run(capsys, "reload", "--file", str(bad))
        assert rc == 1 and out["reload_ok"] is False

    def test_show_missing_file_fails_cleanly(self, tmp_path, capsys):
        rc, out = run(capsys, "show", "--file", str(tmp_path / "nope"))
        assert rc == 1 and "error" in out

    def test_atomic_replace_leaves_no_tmp(self, tmp_path, capsys):
        f = str(tmp_path / "x.bloom")
        run(capsys, "create", "--out", f, "v1")
        run(capsys, "add", "--file", f, "v2")
        assert [p.name for p in tmp_path.iterdir()] == ["x.bloom"]
