"""Image payload layer: codecs, determinism, per-row invariants
(decoded-pixel PSNR >= 40 dB / exact for lossless, caption equality),
features, resize, phash near-dup LSH."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.payload.images import (
    caption_for,
    decode_and_verify,
    decode_image,
    decode_png,
    decode_q6,
    decode_raw,
    encode_png,
    encode_q6,
    encode_raw,
    image_features,
    phash64,
    phash_near_dup_pairs,
    psnr,
    reference_pixels,
    resize_images,
    synth_image_table,
)


# ---------------------------------------------------------------- codecs

def test_png_roundtrip_exact():
    px = reference_pixels(7, 40, 24)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_raw_roundtrip_exact():
    px = reference_pixels(3, 24, 16)
    assert np.array_equal(decode_raw(encode_raw(px)), px)


def test_q6_lossy_psnr_over_40():
    px = reference_pixels(11, 56, 64)
    got = decode_q6(encode_q6(px))
    p = psnr(px, got)
    assert 40.0 <= p < 60.0  # quantized: high but not lossless
    assert (np.abs(px.astype(int) - got.astype(int)) <= 3).all()


def test_unknown_fmt_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"xx", "jpeg")


def test_phash_deterministic_and_locality():
    px = reference_pixels(5, 32, 32)
    assert phash64(px) == phash64(px.copy())
    # small perturbation -> small hamming distance
    noisy = px.copy()
    noisy[0, 0, 0] ^= 3
    d = bin(
        (phash64(px) ^ phash64(noisy)) & 0xFFFFFFFFFFFFFFFF
    ).count("1")
    assert d <= 4


def test_caption_vector():
    caps = caption_for(np.array([0, 1]))
    assert caps[0] == "red road in berlin"
    assert caps[1] == "green bridge in paris"


# ------------------------------------------------------------- operators

@pytest.fixture(scope="module")
def images(spark):
    return synth_image_table(spark, 60, parts=4).cache()


def test_synth_schema_and_determinism(spark, images):
    assert images.columns == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    a = {r["image_id"]: r["phash"] for r in images.collect()}
    b = {
        r["image_id"]: r["phash"]
        for r in synth_image_table(spark, 60, parts=7).collect()
    }
    assert a == b  # partitioning must not affect content


def test_decode_and_verify_invariants(images):
    v = decode_and_verify(images)
    rows = v.collect()
    assert len(rows) == 60
    assert all(r["pixels_ok"] for r in rows)
    assert all(r["caption_ok"] for r in rows)
    for r in rows:
        if r["fmt"] in ("png", "raw"):
            assert r["psnr"] == float("inf")
        else:
            assert r["psnr"] >= 40.0
    # phash recomputed from lossless decode matches the stored one
    stored = {r["image_id"]: r["phash"] for r in images.collect()}
    for r in rows:
        if r["fmt"] in ("png", "raw"):
            assert r["phash"] == stored[r["image_id"]]


def test_image_features(images):
    f = image_features(images).collect()
    assert len(f) == 60
    for r in f:
        assert 0.0 < r["mean_lum"] < 255.0
        assert r["std_lum"] > 0.0
        assert r["edge_energy"] > 0.0


def test_resize_and_patch_params_fail_at_plan_time(images):
    """A <= 0 resize target silently emits zero-pixel images per
    executor row (numpy's empty arange never raises), and grid=0
    silently emits zero patches per image — both now fail on the
    driver."""
    from osm_legal_default_speeds_spark.payload.images import sample_patches

    with pytest.raises(ValueError, match=">= 1x1"):
        resize_images(images, 0, 12)
    with pytest.raises(ValueError, match=">= 1x1"):
        resize_images(images, 16, -1)
    with pytest.raises(ValueError, match="grid >= 1"):
        sample_patches(images, grid=0)
    with pytest.raises(ValueError, match="grid >= 1"):
        sample_patches(images, grid=2, pw=0)


def test_resize(images):
    small = resize_images(images, 16, 12)
    v = decode_and_verify(small)  # captions still intact
    rows = v.collect()
    assert all(r["caption_ok"] for r in rows)
    assert all(r["w"] == 16 and r["h"] == 12 for r in rows)
    # resized pixels no longer match full-size reference -> psnr low for most
    got = small.select("image_id", "w", "h").collect()
    assert all(r["w"] == 16 for r in got)


def test_phash_near_dup_pairs(spark, images):
    meta = images.select("image_id", "phash")
    # inject an exact-phash duplicate pair
    dup = meta.limit(1).select(
        F.lit("img-dup").alias("image_id"), F.col("phash")
    )
    pairs = phash_near_dup_pairs(meta.unionAll(dup), max_hamming=0)
    hit = [r for r in pairs.collect() if r["id_b"] == "img-dup"]
    assert len(hit) == 1 and hit[0]["hamming"] == 0


def test_caption_conflict_pairs(spark):
    """Groups of 4 byte-identical images; captions planted by
    (id//2)*2 -> within each group exactly the 4 cross-half pairs
    conflict and the 2 same-half pairs do not."""
    from osm_legal_default_speeds_spark.payload.images import (
        caption_conflict_pairs,
        images_from_ids,
    )

    ids = spark.range(0, 16, 1, 2).select(F.col("id"))
    images = images_from_ids(ids, dup_group=4)
    n = F.substring(F.col("image_id"), 5, 10).cast("long")
    meta = images.withColumn(
        "caption",
        F.concat(F.lit("cap-"), (F.floor(n / 2) * 2).cast("long").cast("string")),
    ).select("image_id", "phash", "caption")
    pairs = caption_conflict_pairs(meta, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = set()
    for g in range(0, 16, 4):
        members = [f"img-{g + k}" for k in range(4)]
        for i in range(4):
            for j in range(4):
                a, b = members[i], members[j]
                if a < b and (g + i) // 2 != (g + j) // 2:
                    want.add((a, b))
    assert got == want
    # every emitted pair is a real near-dup (hamming 0 in this fixture)
    assert all(r["hamming"] == 0 for r in pairs.collect())


def test_multimodal_dup_classes_stop_caption_cap(spark):
    """A boilerplate caption shared by every row is a quadratic hot
    bucket: with max_caption_bucket below the corpus size the
    caption_only class is suppressed (no pair explosion), while the
    image-side classes are untouched — and the 'both' class follows
    the caption equality."""
    from osm_legal_default_speeds_spark.payload.images import (
        images_from_ids,
        multimodal_dup_classes,
    )

    ids = spark.range(0, 24, 1, 2).select(F.col("id"))
    meta = images_from_ids(ids, dup_group=4).withColumn(
        "caption", F.lit("stock photo")
    ).select("image_id", "phash", "caption")

    capped = multimodal_dup_classes(meta, max_hamming=2, max_caption_bucket=8)
    by_class = {
        r["dup_class"]: r["n"]
        for r in capped.groupBy("dup_class").agg(F.count("*").alias("n")).collect()
    }
    # 6 groups of 4 -> 6*C(4,2)=36 image pairs, all caption-equal
    assert by_class == {"both": 36}

    uncapped = multimodal_dup_classes(
        meta, max_hamming=2, max_caption_bucket=1000
    )
    got = {
        r["dup_class"]: r["n"]
        for r in uncapped.groupBy("dup_class").agg(F.count("*").alias("n")).collect()
    }
    # the hot bucket expands: C(24,2)=276 pairs total, 36 visually near
    assert got == {"both": 36, "caption_only": 240}


def test_multimodal_dup_classes_rejects_pigeonhole_violation(spark):
    """max_hamming >= 64/band_bits would let a within-radius pair
    disagree in every band — a missed image-side pair with equal
    captions would be MISCLASSIFIED as caption_only, so the operator
    must refuse rather than silently emit wrong classes."""
    import pytest

    from osm_legal_default_speeds_spark.payload.images import (
        images_from_ids,
        multimodal_dup_classes,
    )

    meta = images_from_ids(spark.range(0, 8, 1, 2).select("id")).withColumn(
        "caption", F.lit("c")
    ).select("image_id", "phash", "caption")
    with pytest.raises(ValueError, match="pigeonhole"):
        multimodal_dup_classes(meta, max_hamming=4, band_bits=16)

    # the guard lives at the source too: the raw pair generator (and
    # every caller inheriting its defaults) enforces the same bound
    from osm_legal_default_speeds_spark.payload.images import (
        phash_near_dup_pairs,
    )

    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(
            meta.select("image_id", "phash"), max_hamming=4, band_bits=16
        )
    # defaults are self-consistent: max_hamming=6 with 8-bit bands
    phash_near_dup_pairs(meta.select("image_id", "phash")).count()


def test_aspect_ratio_buckets_match_brute_force(spark):
    """The Column argmin (integer-exact, tie to earlier bucket) agrees
    with a rational-arithmetic brute force for every (w, h) the
    generator produces."""
    from fractions import Fraction

    from osm_legal_default_speeds_spark.payload.images import (
        DEFAULT_AR_BUCKETS,
        aspect_ratio_buckets,
        images_from_ids,
    )

    meta = images_from_ids(spark.range(0, 70, 1, 2).select("id")).select(
        "image_id", "w", "h"
    )
    got = {
        r["image_id"]: (r["bucket_id"], r["ratio"])
        for r in aspect_ratio_buckets(meta).collect()
    }
    for r in meta.collect():
        ar = Fraction(r["w"], r["h"])
        dists = [
            (abs(ar - Fraction(bw, bh)), i)
            for i, (bw, bh) in enumerate(DEFAULT_AR_BUCKETS)
        ]
        _, best = min(dists)
        bw, bh = DEFAULT_AR_BUCKETS[best]
        assert got[r["image_id"]] == (best, f"{bw}:{bh}"), r


def test_sample_patches_deterministic_and_decodable(spark):
    from osm_legal_default_speeds_spark.payload.images import (
        decode_image,
        reference_pixels,
        sample_patches,
        synth_image_table,
        _image_num,
    )
    import numpy as np

    images = synth_image_table(spark, 12, parts=3)
    patches = sample_patches(images, grid=2, pw=8, ph=8)
    rows = patches.collect()
    assert len(rows) == 12 * 4
    # every patch decodes and (for lossless fmts) equals the reference
    # crop at its recorded offset
    for r in rows[:16]:
        px = decode_image(bytes(r["bytes"]), r["fmt"])
        assert px.shape == (r["ph"], r["pw"], 3)
        if r["fmt"] in ("png", "raw"):
            num = int(r["image_id"][4:])
            # regenerate the full reference image and crop
            import pandas as pd
            from osm_legal_default_speeds_spark.payload.images import image_dims
            w, h = image_dims(np.array([num]))
            ref = reference_pixels(num, int(w[0]), int(h[0]))
            crop = ref[r["y"]: r["y"] + r["ph"], r["x"]: r["x"] + r["pw"]]
            assert np.array_equal(px, crop)
    # second run identical (deterministic)
    again = sorted((r["image_id"], r["patch_id"], r["phash"]) for r in
                   sample_patches(images, grid=2, pw=8, ph=8).collect())
    first = sorted((r["image_id"], r["patch_id"], r["phash"]) for r in rows)
    assert first == again


def test_patch_phash_containment(spark):
    from osm_legal_default_speeds_spark.payload.images import (
        images_from_ids,
        patch_phash_containment,
    )

    ids = spark.range(0, 24, 1, 3).select(F.col("id"))
    images = images_from_ids(ids, dup_group=4)
    pairs = patch_phash_containment(images, grid=2, min_shared=2).collect()
    # 6 groups x C(4,2) pairs, every pair sharing all 4 patch slots
    assert len(pairs) == 6 * 6
    assert all(r["n_shared"] == 4 for r in pairs)
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {
        (f"img-{a}", f"img-{b}")
        for g in range(6)
        for a in range(g * 4, g * 4 + 4)
        for b in range(g * 4, g * 4 + 4)
        if f"img-{a}" < f"img-{b}"
    }
    assert got == want
    # a threshold above grid^2 excludes everything
    assert (
        patch_phash_containment(images, grid=2, min_shared=5).count() == 0
    )


def test_image_flagship_pipeline_preserves_payload(spark, images):
    """North-star end-to-end: image+caption rows -> deterministic geo
    (from phash) -> grid encode -> PIP jurisdiction + kNN fallback ->
    tile assignment -> full-rule native inference — with the binary
    payload riding the whole (map-only, shuffle-free) pipeline and the
    decoded-pixel PSNR >= 40 dB / caption-equality invariants intact at
    the end; tile assignment pinned against the Python grid twin."""
    from pyspark.sql import functions as F

    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_tiles,
        grid_cell_py,
        resolve_jurisdiction,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        mini_ruleset,
        synth_boundaries,
    )
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    ph = F.pmod(F.col("phash"), F.lit(2**60)).cast("long")
    lon = (ph % 360000) / 1000.0 - 180.0
    lat = (F.floor(ph / 360000) % 170000) / 1000.0 - 85.0
    num = F.pmod(F.col("image_id").substr(F.lit(4), F.lit(9)).cast("long"), F.lit(97))
    tags = F.create_map(
        F.lit("highway"),
        F.element_at(
            F.array(F.lit("motorway"), F.lit("residential"), F.lit("living_street")),
            (num % 3 + 1).cast("int"),
        ),
        F.lit("lit"),
        F.when(num % 2 == 0, "yes").otherwise("no"),
    )
    boundaries = synth_boundaries()
    geo = images.withColumn("lon", lon).withColumn("lat", lat).withColumn("tags", tags)
    located = resolve_jurisdiction(geo, boundaries)
    # mini ruleset is ZA-only; map every region onto it so each image
    # row flows through the full cascade
    located = located.withColumn("region_code", F.lit("ZA"))
    tiled = assign_tiles(located, tile_res=6)
    out = infer_speed_limits_native(tiled, mini_ruleset(), country_col="region_code")

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # payload never shuffles
    assert "EvalPython" not in plan or "ArrowEval" not in plan

    rows = out.collect()
    assert len(rows) == images.count()
    for r in rows:
        assert r["speed_limit"] is not None  # ZA always resolves (fallback)
        exp_tile = grid_cell_py(r["lon"], r["lat"], 6)
        assert r["tile_id"] == exp_tile

    verified = decode_and_verify(
        out.select("image_id", "bytes", "w", "h", "fmt", "caption")
    ).collect()
    for v in verified:
        assert v["caption_ok"]
        assert v["psnr"] == float("inf") or v["psnr"] >= 40.0


def test_drop_near_dup_images(spark):
    """Planted exact-dup groups (every 4 consecutive ids share pixels)
    collapse to one representative each; bytes survive the anti-join
    intact (decode still verifies)."""
    from pyspark.sql import functions as F

    from osm_legal_default_speeds_spark.payload.images import (
        decode_and_verify,
        drop_near_dup_images,
        images_from_ids,
    )

    # same-digit-width id range so lexicographic order on image_id
    # equals numeric order (the kept representative is then also the
    # group's pixel-base id, letting decode-verify pass below)
    ids = spark.range(12, 76, 1, 4)
    images = images_from_ids(ids.select("id"), dup_group=4)
    kept = drop_near_dup_images(images, max_hamming=2)
    assert kept.count() == 16  # 64 ids / groups of 4
    # one representative per group: the lexicographic-min image_id
    kept_ids = sorted(r["image_id"] for r in kept.select("image_id").collect())
    groups = {}
    for r in images.select("image_id").collect():
        n = int(r["image_id"].split("-")[1])
        groups.setdefault(n // 4, []).append(r["image_id"])
    expect = sorted(min(v) for v in groups.values())
    assert kept_ids == expect
    # payload integrity through the join
    v = decode_and_verify(kept)
    assert v.where(~F.col("pixels_ok")).count() == 0


def test_patch_phash_containment_cap_prefilters_hot_buckets(spark):
    """max_bucket is enforced BEFORE the collect (hot-key pre-count +
    broadcast anti-join over a localCheckpoint-ed patch projection), so
    a corpus-scale bucket never materializes in an aggregation buffer.
    Pins: (a) a cap above every bucket's size reproduces the uncapped
    result exactly; (b) a cap below the planted multiplicity drops all
    pairs; (c) the capped plan carries the forced broadcast."""
    from osm_legal_default_speeds_spark.payload.images import (
        images_from_ids,
        patch_phash_containment,
    )

    ids = spark.range(0, 24, 1, 3).select(F.col("id"))
    images = images_from_ids(ids, dup_group=4)
    uncapped = sorted(
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in patch_phash_containment(images, grid=2, min_shared=2).collect()
    )
    roomy = patch_phash_containment(
        images, grid=2, min_shared=2, max_bucket=64
    )
    plan = roomy._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan, plan[:2000]
    assert (
        sorted(
            (r["id_a"], r["id_b"], r["n_shared"]) for r in roomy.collect()
        )
        == uncapped
    )
    # every planted patch phash repeats 4x (dup_group) -> a cap of 3
    # drops every bucket, hence every pair
    assert (
        patch_phash_containment(
            images, grid=2, min_shared=2, max_bucket=3
        ).count()
        == 0
    )
