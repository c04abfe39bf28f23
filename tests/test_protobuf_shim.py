"""Vendored minimal protobuf runtime (vendor/protobuf_shim) — wire
format, descriptor parsing, and message-class semantics.

The reference behavior is the PUBLIC protobuf spec
(protobuf.dev/programming-guides/encoding): known-answer byte vectors
below are hand-derived from the spec, so these tests hold whether the
module under test is the shim or a real google.protobuf installation
(both must agree on bytes — that is the whole point of a wire format).
"""

from __future__ import annotations

import pytest

from tracy_matdb_spark.vendor import ensure_protobuf

ensure_protobuf()

SM = pytest.importorskip("pyspark.sql.streaming.proto.StateMessage_pb2")


def test_varint_known_answers():
    from google.protobuf.internal import _minirt as rt

    out = bytearray()
    rt.write_varint(out, 300)
    assert bytes(out) == b"\xac\x02"  # spec example
    assert rt.read_varint(b"\xac\x02", 0) == (300, 2)
    # negative int64: two's-complement 10-byte form
    out = bytearray()
    rt.write_varint(out, -2)
    assert bytes(out) == b"\xfe\xff\xff\xff\xff\xff\xff\xff\xff\x01"
    v, _ = rt.read_varint(bytes(out), 0)
    assert rt._to_signed(v, 64) == -2


def test_known_answer_message_bytes():
    # SetImplicitKey{key: bytes=0xDEAD} -> field 1, LEN: 0A 02 DE AD
    m = SM.SetImplicitKey(key=b"\xde\xad")
    assert m.SerializeToString() == b"\x0a\x02\xde\xad"
    # RegisterTimer{expiryTimestampMs: int64 = 1} -> field 1 varint: 08 01
    assert SM.RegisterTimer(expiryTimestampMs=1).SerializeToString() == b"\x08\x01"
    # proto3 implicit presence: default scalar serializes to nothing
    assert SM.RegisterTimer(expiryTimestampMs=0).SerializeToString() == b""
    # string field: ParseStringSchema{schema="ab"} -> 0A 02 61 62
    assert SM.ParseStringSchema(schema="ab").SerializeToString() == b"\x0a\x02ab"


def test_nested_oneof_roundtrip_and_last_wins():
    req = SM.StateRequest(
        statefulProcessorCall=SM.StatefulProcessorCall(
            setHandleState=SM.SetHandleState(state=SM.INITIALIZED)
        )
    )
    b = req.SerializeToString()
    back = SM.StateRequest()
    back.ParseFromString(b)
    assert back.statefulProcessorCall.setHandleState.state == SM.INITIALIZED
    # concatenation = merge; oneof takes the LAST branch seen (spec rule)
    other = SM.StateRequest(
        implicitGroupingKeyRequest=SM.ImplicitGroupingKeyRequest(
            removeImplicitKey=SM.RemoveImplicitKey()
        )
    )
    merged = SM.StateRequest()
    merged.ParseFromString(b + other.SerializeToString())
    # only the last oneof branch survives -> byte-identical to `other`
    assert merged.SerializeToString() == other.SerializeToString()


def test_repeated_message_and_bytes_fields():
    resp = SM.StateResponseWithMapIterator(
        statusCode=0,
        kvPair=[
            SM.KeyAndValuePair(key=b"k1", value=b"v1"),
            SM.KeyAndValuePair(key=b"k2", value=b"v2"),
        ],
        requireNextFetch=True,
    )
    back = SM.StateResponseWithMapIterator()
    back.ParseFromString(resp.SerializeToString())
    assert [(p.key, p.value) for p in back.kvPair] == [(b"k1", b"v1"), (b"k2", b"v2")]
    assert back.requireNextFetch is True
    lg = SM.StateResponseWithListGet(value=[b"a", b"", b"bb"])
    back2 = SM.StateResponseWithListGet()
    back2.ParseFromString(lg.SerializeToString())
    assert back2.value == [b"a", b"", b"bb"]


def test_defaults_and_unknown_fields():
    m = SM.StateResponseWithLongTypeVal()
    m.ParseFromString(b"")
    assert (m.statusCode, m.errorMessage, m.value) == (0, "", 0)
    # negative int32 statusCode round-trips (10-byte varint on the wire)
    m2 = SM.StateResponseWithLongTypeVal()
    m2.ParseFromString(SM.StateResponseWithLongTypeVal(statusCode=-3).SerializeToString())
    assert m2.statusCode == -3
    # unknown field numbers are skipped, not fatal (forward compat):
    # field 15 varint=1 prepended to a valid message
    m3 = SM.StateResponseWithLongTypeVal()
    m3.ParseFromString(b"\x78\x01" + SM.StateResponseWithLongTypeVal(value=9).SerializeToString())
    assert m3.value == 9


def test_descriptor_parse_matches_proto():
    d = SM.TimerInfo.DESCRIPTOR
    assert [(f.name, f.number) for f in d.fields] == [("key", 1), ("timestampMs", 2)]
    assert SM.DESCRIPTOR.package == "org.apache.spark.sql.execution.streaming.state"
    # enum values are module-level constants (proto3 scoping)
    assert SM.PRE_INIT == 0 and SM.CLOSED == 5
    assert SM.HandleState.Name(2) == "INITIALIZED"
    assert SM.HandleState.Value("DATA_PROCESSED") == 3


def test_unsupported_constructs_fail_loudly():
    from google.protobuf.internal import _minirt as rt

    with pytest.raises(ValueError):
        SM.StateRequest(noSuchField=1)
    # wire type 3 (group start) must raise, not silently misparse
    with pytest.raises(ValueError):
        list(rt.scan_fields(b"\x0b"))


def test_wire_roundtrip_property():
    """Property: arbitrary field values survive serialize -> parse for
    every scalar shape the state protocol uses (int32/int64 full signed
    range, bool, bytes, string, enum, repeated bytes, nested oneof)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)

    @settings(max_examples=200, deadline=None)
    @given(
        status=i32,
        err=st.text(max_size=40),
        value=i64,
        key=st.binary(max_size=60),
        ts=i64,
        vals=st.lists(st.binary(max_size=20), max_size=8),
        fetch=st.booleans(),
    )
    def roundtrip(status, err, value, key, ts, vals, fetch):
        m = SM.StateResponseWithLongTypeVal(statusCode=status, errorMessage=err, value=value)
        back = SM.StateResponseWithLongTypeVal()
        back.ParseFromString(m.SerializeToString())
        assert (back.statusCode, back.errorMessage, back.value) == (status, err, value)

        t = SM.StateResponseWithTimer(
            statusCode=status,
            timer=[SM.TimerInfo(key=key, timestampMs=ts)],
            requireNextFetch=fetch,
        )
        bt = SM.StateResponseWithTimer()
        bt.ParseFromString(t.SerializeToString())
        assert [(x.key, x.timestampMs) for x in bt.timer] == [(key, ts)]
        assert bt.requireNextFetch is fetch

        lg = SM.StateResponseWithListGet(value=vals)
        bl = SM.StateResponseWithListGet()
        bl.ParseFromString(lg.SerializeToString())
        assert bl.value == vals

        req = SM.StateRequest(
            version=status,
            timerRequest=SM.TimerRequest(
                timerValueRequest=SM.TimerValueRequest(getWatermark=SM.GetWatermark())
            ),
        )
        br = SM.StateRequest()
        br.ParseFromString(req.SerializeToString())
        assert br.version == status
        assert br.SerializeToString() == req.SerializeToString()

    roundtrip()


def test_install_pth_hook_rewrites_stale_and_respects_opt_out(tmp_path, monkeypatch):
    """install_pth_hook must (a) rewrite a stale hook whose line points
    at a relocated/older checkout — keeping it would report 'shim' while
    fresh JVM-spawned processes still cannot import google.protobuf —
    (b) keep a current hook untouched, and (c) do nothing under
    TRACY_NO_PTH_HOOK=1 (shared-interpreter opt-out)."""
    import os

    from tracy_matdb_spark import vendor

    site_dir = str(tmp_path / "site-packages")
    os.makedirs(site_dir)
    monkeypatch.setattr(vendor, "_site_dirs", lambda: [site_dir])
    pth = os.path.join(site_dir, vendor.PTH_NAME)

    # stale hook from an old checkout location -> atomically rewritten
    with open(pth, "w", encoding="utf-8") as fh:
        fh.write("/old/checkout/tracy_matdb_spark/vendor/protobuf_shim\n")
    assert vendor.install_pth_hook() == pth
    with open(pth, encoding="utf-8") as fh:
        assert fh.read().strip() == vendor.SHIM_DIR

    # current hook -> kept (no rewrite churn)
    before = os.stat(pth).st_mtime_ns
    assert vendor.install_pth_hook() == pth
    assert os.stat(pth).st_mtime_ns == before

    # opt-out -> no hook written
    os.remove(pth)
    monkeypatch.setenv("TRACY_NO_PTH_HOOK", "1")
    assert vendor.install_pth_hook() is None
    assert not os.path.exists(pth)


def test_hook_to_a_foreign_shim_copy_is_rewritten(tmp_path):
    """A hook left by another checkout (a worktree, a scratch copy) makes
    every fresh process import that checkout's shim. ensure_protobuf must
    recognise it as a shim, not as a genuine install, and point the hook
    at this checkout's copy."""
    import os
    import shutil
    import subprocess
    import sys

    from tracy_matdb_spark import vendor

    foreign = tmp_path / "other-checkout" / "protobuf_shim"
    shutil.copytree(vendor.SHIM_DIR, foreign)
    site_dir = tmp_path / "site-packages"
    site_dir.mkdir()
    pth = site_dir / vendor.PTH_NAME
    pth.write_text(f"{foreign}\n", encoding="utf-8")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # -S: no real site-packages, so the planted hook is the only way in
    code = (
        "import site, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        f"site.addsitedir({str(site_dir)!r})\n"
        "import google.protobuf as gp\n"
        "from tracy_matdb_spark import vendor\n"
        f"vendor._site_dirs = lambda: [{str(site_dir)!r}]\n"
        "print('ORIGIN', gp.__path__[0])\n"
        "print('MODE', vendor.ensure_protobuf())\n"
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "TRACY_NO_PTH_HOOK")}
    proc = subprocess.run(
        [sys.executable, "-S", "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if line.startswith(("ORIGIN ", "MODE ")))
    assert out["ORIGIN"].startswith(str(foreign))
    assert out["MODE"] == "shim"
    assert pth.read_text(encoding="utf-8").strip() == vendor.SHIM_DIR
