"""Config→plan compiler + multimodal plumbing tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparkcollector.config import compile_pipeline, dry_run


def _plan_nodes(node):
    """Every node of a physical plan (the pre-stage plan under AQE)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.inputPlan()
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_config_plan_shuffles_the_narrow_input_once(turns_df):
    """With exclude and transform stages configured, the plan still has
    one conv_id exchange, and it moves the unparsed input rows."""
    cfg = {
        "pipeline": {
            "exclude": [{"column": "role", "items": ["tool"]}],
            "transform": [{"set": "body_len", "expr": "length(text)"}],
        }
    }
    plan = compile_pipeline(cfg)(turns_df)._jdf.queryExecution().executedPlan()
    exchanges = [
        n
        for n in _plan_nodes(plan)
        if n.nodeName() == "Exchange"
        and n.outputPartitioning().toString().startswith("hashpartitioning(conv_id#")
    ]
    assert len(exchanges) == 1, plan.toString()
    child_out = exchanges[0].child().output()
    cols = {child_out.apply(i).name() for i in range(child_out.size())}
    assert not cols & {"severity", "sink"}, cols


def test_exclude_filter_stage(spark, turns_df):
    cfg = {"pipeline": {"exclude": [{"column": "role", "items": ["tool"]}]}}
    out = compile_pipeline(cfg)(turns_df)
    assert out.filter(F.col("role") == "tool").count() == 0
    assert out.count() == turns_df.filter("role != 'tool'").count()


def test_custom_route_rules(spark, turns_df):
    cfg = {
        "pipeline": {
            "parse": {"engine": "off"},
            "enrich": False,
            "route": {"rules": [{"predicate": "role = 'user'", "sink": "metrics"}]},
            "order": None,
        }
    }
    out = compile_pipeline(cfg)(turns_df)
    sinks = dict(
        (r["sink"], r["n"])
        for r in out.groupBy("sink").agg(F.count("*").alias("n")).collect()
    )
    assert sinks["metrics"] == turns_df.filter("role = 'user'").count()
    assert sinks["events"] == turns_df.filter("role != 'user'").count()


def test_transform_statements(spark, turns_df):
    cfg = {
        "pipeline": {
            "parse": {"engine": "off"},
            "enrich": False,
            "transform": [
                {"set": "sourcetype", "expr": "'agent:turn'"},
                {
                    "set": "sourcetype",
                    "expr": "'XmlWinEventLog'",
                    "where": "role = 'system'",
                },
                {"set": "body_len", "expr": "length(text)"},
            ],
            "route": {"rules": [{"predicate": "true", "sink": "events"}]},
            "order": None,
        }
    }
    out = compile_pipeline(cfg)(turns_df)
    rows = out.select("role", "sourcetype", "body_len", "text").collect()
    for r in rows:
        expected = "XmlWinEventLog" if r["role"] == "system" else "agent:turn"
        assert r["sourcetype"] == expected
        assert r["body_len"] == len(r["text"])


def test_route_default_takes_unmatched_rows(turns_df):
    cfg = {
        "pipeline": {
            "route": {
                "rules": [{"predicate": "false", "sink": "traces"}],
                "default": "metrics",
            }
        }
    }
    out = compile_pipeline(cfg)(turns_df)
    sinks = {r["sink"] for r in out.select("sink").distinct().collect()}
    assert sinks == {"metrics"}


def _sink_counts(df):
    return {
        r["sink"]: r["n"]
        for r in df.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }


def test_empty_route_rules_send_every_row_to_default(turns_df):
    """``rules: []`` is no rules, not "use the default rules"."""
    cfg = {"pipeline": {"route": {"rules": [], "default": "metrics"}}}
    out = compile_pipeline(cfg)(turns_df)
    assert _sink_counts(out) == {"metrics": turns_df.count()}


def test_route_with_only_default_keeps_default_rules(turns_df):
    """A route dict without ``rules`` keeps DEFAULT_RULES: spans still go
    to traces and severity lines to events; only unmatched rows move."""
    base = _sink_counts(compile_pipeline()(turns_df))
    got = _sink_counts(
        compile_pipeline({"pipeline": {"route": {"default": "traces"}}})(turns_df)
    )
    assert got["metrics"] == base["metrics"] > 0
    assert 0 < got["events"] < base["events"]
    assert got["events"] + got["traces"] == base["events"] + base["traces"]


def test_enrich_old_dict_is_rejected(turns_df):
    """enrich is true | false; the old per-dimension flags fail."""
    run = compile_pipeline({"pipeline": {"enrich": {"role_attrs": True}}})
    with pytest.raises(ValueError, match="enrich"):
        run(turns_df)


def test_dry_run_prints_effective_config():
    cfg = json.loads(dry_run())
    p = cfg["pipeline"]
    assert p["parse"]["engine"] == "builtin"
    assert p["route"]["rules"][0]["sink"] == "traces"


def test_parse_engine_pandas_is_rejected(turns_df):
    """The parse engines are builtin | off; the old pandas value fails."""
    run = compile_pipeline({"pipeline": {"parse": {"engine": "pandas"}}})
    with pytest.raises(ValueError, match="unknown parse engine"):
        run(turns_df)


# --- config-source resolution (env/file interpolation + overrides) ---

def test_resolve_env_expressions_typed_and_spliced():
    from sparkcollector.config import resolve_config

    env = {"SINK": "metrics", "N": "42", "FLAG": "true"}
    cfg = {
        "pipeline": {
            "route": {"default": "${env:SINK}"},
            "batch": {"size": "${env:N}", "enabled": "${env:FLAG}"},
            "label": "sink=${env:SINK}/n=${env:N}",
        }
    }
    r = resolve_config(cfg, env=env)["pipeline"]
    # whole-string expressions re-type (YAML-reparse semantics)
    assert r["route"]["default"] == "metrics"
    assert r["batch"]["size"] == 42 and r["batch"]["enabled"] is True
    # embedded expressions splice as text
    assert r["label"] == "sink=metrics/n=42"


def test_resolve_env_default_and_missing():
    import pytest

    from sparkcollector.config import resolve_config

    r = resolve_config(
        {"x": "${env:MISSING:-fallback}", "y": "${env:EMPTY:-}"}, env={}
    )
    assert r["x"] == "fallback" and r["y"] == ""
    with pytest.raises(ValueError, match="MISSING.*not set"):
        resolve_config({"x": "${env:MISSING}"}, env={})


def test_resolve_file_include_and_unsupported_scheme(tmp_path):
    import pytest

    from sparkcollector.config import resolve_config

    f = tmp_path / "token.txt"
    f.write_text("s3cret\n")
    r = resolve_config({"tok": f"${{file:{f}}}"}, env={})
    assert r["tok"] == "s3cret"
    with pytest.raises(ValueError, match="unsupported config source"):
        resolve_config({"x": "${vault:secret/path}"}, env={})


def test_resolve_nested_expression_and_cycle_guard(tmp_path):
    import pytest

    from sparkcollector.config import resolve_config

    # an env value may itself contain an expression (one more hop)
    env = {"OUTER": "${env:INNER}", "INNER": "deep"}
    assert resolve_config({"x": "${env:OUTER}"}, env=env)["x"] == "deep"
    # self-referential value must hit the depth cap, not hang
    with pytest.raises(ValueError, match="nesting exceeds"):
        resolve_config({"x": "${env:LOOP}"}, env={"LOOP": "${env:LOOP}"})


def test_property_overrides_win_over_config_and_env():
    from sparkcollector.config import resolve_config

    cfg = {"pipeline": {"route": {"default": "${env:SINK}"}}}
    r = resolve_config(
        cfg,
        env={"SINK": "events"},
        properties={"pipeline.route.default": "traces",
                    "pipeline.new.key": 7},
    )
    assert r["pipeline"]["route"]["default"] == "traces"  # override wins
    assert r["pipeline"]["new"]["key"] == 7  # intermediate maps created


def test_dry_run_resolves_before_rendering():
    cfg = {
        "pipeline": {
            "parse": {"engine": "${env:ENGINE}"},
            "route": {
                "rules": [{"predicate": "tool IS NOT NULL",
                           "sink": "${env:SINK}"}],
                "default": "events",
            },
        }
    }
    out = json.loads(
        dry_run(cfg, env={"ENGINE": "builtin", "SINK": "metrics"})
    )
    p = out["pipeline"]
    # rendered effective config carries RESOLVED values, no ${...} left
    assert p["parse"]["engine"] == "builtin"
    assert p["route"]["rules"][0]["sink"] == "metrics"
    assert "${" not in json.dumps(out)


def test_compiled_pipeline_uses_resolved_values(spark, turns_df):
    from sparkcollector.config import compile_pipeline

    run = compile_pipeline(
        {"pipeline": {"parse": {"engine": "${env:ENGINE}"}}},
        env={"ENGINE": "builtin"},
    )
    out = run(turns_df.limit(50))
    # the resolved engine (builtin parse) ran: parsed columns exist
    assert "severity" in out.columns and out.count() == 50


# --- multimodal plumbing ---------------------------------------------

def test_multimodal_feature_extraction(spark):
    from sparkcollector.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
        assert abs(sum(r["feature"]) - 1.0) < 1e-3  # L1-normalized
    # deterministic across runs
    again = extract_features(synth_media(spark, n=30)).collect()
    assert sorted(r["media_id"] for r in again) == sorted(r["media_id"] for r in feats)


def test_multimodal_resize_and_frames(spark):
    from sparkcollector.operators.multimodal import (
        decode_image,
        frame_sample,
        resize_images,
        synth_media,
    )

    media = synth_media(spark, n=30)
    resized = resize_images(media, 32, 32).collect()
    by_kind = {}
    for r in resized:
        by_kind.setdefault(r["kind"], []).append(r)
    # image rows are REALLY resized: restamped metadata AND the
    # re-encoded bytes decode to a 32x32 array
    for r in by_kind["image"]:
        assert r["width"] == 32 and r["height"] == 32
        assert r["mime"] == "image/x-portable-pixmap"
        arr = decode_image(bytes(r["content"]))
        assert arr.shape == (32, 32, 3)
    # non-image rows pass through untouched
    for r in by_kind["audio"] + by_kind["video"]:
        assert r["mime"] != "image/x-portable-pixmap"

    frames = frame_sample(media, every_ms=5000).collect()
    vids = {r["media_id"] for r in media.filter("kind='video'").collect()}
    assert {r["media_id"] for r in frames} <= vids
    assert len(frames) > 0 and all(r["frame_ms"] % 5000 == 0 for r in frames)


# --- multimodal real kernels (no Spark needed) ------------------------

def test_ppm_roundtrip_and_nearest_resize_golden():
    import numpy as np

    from sparkcollector.operators.multimodal import (
        decode_image,
        encode_ppm,
        resize_array,
    )

    arr = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert np.array_equal(decode_image(encode_ppm(arr)), arr)  # roundtrip
    # nearest-neighbor golden: 2x downscale picks rows/cols 0,2 and 0,3
    small = resize_array(arr, 2, 2)
    assert np.array_equal(small, arr[[0, 2]][:, [0, 3]])
    # upscale replicates pixels, never interpolates new values
    big = resize_array(arr, 12, 8)
    assert set(np.unique(big)) <= set(np.unique(arr))


def test_pgm_decodes_with_comments_and_gray_broadcast():
    import numpy as np

    from sparkcollector.operators.multimodal import decode_image

    pgm = b"P5\n# a comment\n3 2\n255\n" + bytes(range(6))
    arr = decode_image(pgm)
    assert arr.shape == (2, 3, 3)
    assert np.array_equal(arr[..., 0], arr[..., 1])  # gray broadcast


def test_wav_roundtrip_and_audio_features():
    import numpy as np

    from sparkcollector.operators.multimodal import (
        FEATURE_DIM,
        audio_features,
        decode_audio,
        encode_wav,
    )

    t = np.arange(8000) / 8000.0
    sig = (0.25 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    got = decode_audio(encode_wav(sig))
    assert got.shape == sig.shape
    assert float(np.abs(got - sig).max()) < 1e-3  # 16-bit quantization
    f = audio_features(got)
    assert f.shape == (FEATURE_DIM,) and abs(float(f.sum()) - 1.0) < 1e-3
    # constant-amplitude tone: near-uniform energy across segments
    assert float(f.min()) > 0.9 / FEATURE_DIM


def test_image_feature_separates_dark_from_light():
    import numpy as np

    from sparkcollector.operators.multimodal import image_features

    dark = np.zeros((8, 8, 3), dtype=np.uint8)
    light = np.full((8, 8, 3), 255, dtype=np.uint8)
    fd, fl = image_features(dark), image_features(light)
    assert fd[0] == 1.0 and fl[-1] == 1.0  # mass in opposite bins


def test_y4m_roundtrip_and_real_frame_sampling(spark):
    """Round-5: video decode is real for Y4M — encode K frames,
    decode back within BT.601 integer-rounding tolerance, and
    frame_sample emits PPM-decodable nearest frames."""
    import numpy as np

    from sparkcollector.operators.multimodal import (
        decode_image,
        decode_y4m,
        encode_y4m,
        frame_sample,
        synth_media,
    )

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(5, 6, 4, 3), dtype=np.uint8)
    back, fps = decode_y4m(encode_y4m(frames, fps=2))
    assert back.shape == frames.shape and fps == 2
    # full-range BT.601 with C444 round-trips to within rounding error
    assert np.abs(back.astype(int) - frames.astype(int)).max() <= 3

    media = synth_media(spark, n=30)
    out = frame_sample(media, every_ms=5000).collect()
    vids = {
        r["media_id"]: r for r in media.filter("kind='video'").collect()
    }
    assert len(out) > 0 and {r["media_id"] for r in out} <= set(vids)
    for r in out:
        assert r["frame_ms"] % 5000 == 0
        arr = decode_image(bytes(r["content"]))  # genuine PPM payload
        assert arr.shape == (8, 8, 3)
        # the sampled frame is the clip's nearest stored frame
        clip, cfps = decode_y4m(bytes(vids[r["media_id"]]["content"]))
        j = min(r["frame_ms"] * cfps // 1000, len(clip) - 1)
        assert np.array_equal(arr, clip[j])


def test_video_features_use_decoded_frames(spark):
    """extract_features on Y4M video rows must run the real decode
    path (mean-frame image features), not the byte-stats fallback."""
    import numpy as np

    from sparkcollector.operators.multimodal import (
        _fake_decode,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=30)
    feats = {
        r["media_id"]: np.array(r["feature"])
        for r in extract_features(media).collect()
    }
    raw = {
        r["media_id"]: r["content"]
        for r in media.filter("kind='video'").collect()
    }
    assert raw, "synth corpus must contain video rows"
    for mid, content in raw.items():
        fallback = _fake_decode(bytes(content), "video")
        assert not np.allclose(feats[mid], fallback), mid
