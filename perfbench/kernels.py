"""Single-core, in-process kernel costs on a seeded corpus, measured the
same way in every traced run whatever the workload: each codec's public
encode and decode per document, and the store's LSH multi-probe routing
per query vector."""

from __future__ import annotations

import time

import numpy as np

DOCS = 12
ROUTE_VECTORS, ROUTE_DIM, ROUTE_SHARDS, ROUTE_PROBES = 2000, 64, 256, 2


def _images(rng: np.random.Generator) -> list[np.ndarray]:
    """64x64 RGB images: smooth gradients plus noise, ≤256 colours so GIF
    stays lossless."""
    out = []
    yy, xx = np.mgrid[0:64, 0:64]
    for _ in range(DOCS):
        a, b = rng.integers(1, 4, 2)
        base = (xx * a + yy * b) % 256
        noise = rng.integers(0, 4, (64, 64))
        img = np.stack([base, (base + 85) % 256, (base * 3) % 256], axis=2) + noise[:, :, None]
        out.append((img // 16 * 16).astype(np.uint8))
    return out


def _clips(rng: np.random.Generator) -> list[np.ndarray]:
    t = np.arange(8192)
    return [
        (
            8000 * np.sin(2 * np.pi * t * rng.uniform(100, 2000) / 16000)
            + rng.normal(0, 300, t.size)
        ).astype(np.int16)[:, None]
        for _ in range(DOCS)
    ]


def _per_doc_ms(fn, docs) -> tuple[float, list]:
    fn(docs[0])  # the first call fills the codec's caches
    t0 = time.perf_counter()
    out = [fn(d) for d in docs]
    return (time.perf_counter() - t0) / len(docs) * 1e3, out


def route_us(rng: np.random.Generator) -> float:
    """``operators.ann.multiprobe_shards`` per query vector, with the
    hyperplanes a 256-shard dim-64 store draws."""
    from vector_lake_spark.operators import ann, lsh

    planes = lsh.make_hyperplanes(ROUTE_DIM, lsh.num_hashes_for(ROUTE_SHARDS))
    vectors = rng.standard_normal((ROUTE_VECTORS, ROUTE_DIM))
    ann.multiprobe_shards(vectors[0], planes, ROUTE_PROBES)
    t0 = time.perf_counter()
    for v in vectors:
        ann.multiprobe_shards(v, planes, ROUTE_PROBES)
    return (time.perf_counter() - t0) / len(vectors) * 1e6


def measure(ctx) -> dict:
    """``lsh.route_us`` and ``codec.<name>.encode_ms_per_doc`` /
    ``.decode_ms_per_doc``. Each decoded document is checked: same shape,
    and for the lossless codecs the same samples."""
    from vector_lake_spark import flac, gif, jpeg, vp8l

    rng = np.random.default_rng([ctx.seed, 4])
    images, clips = _images(rng), _clips(rng)
    cases = {
        "gif": (images, gif.encode_gif, gif.decode_gif_pixels, True),
        "jpeg": (images, jpeg.encode_jpeg, jpeg.decode_jpeg_pixels, False),
        "vp8l": (images, vp8l.encode_webp_lossless, lambda b: vp8l.decode_webp_pixels(b)["pixels"][:, :, :3], True),
        "flac": (clips, lambda s: flac.encode_flac(s, 16000), lambda b: flac.decode_flac_samples(b)["samples"], True),
    }
    metrics = {"lsh.route_us": route_us(rng)}
    for name, (docs, enc, dec, lossless) in cases.items():
        enc_ms, payloads = _per_doc_ms(enc, docs)
        dec_ms, decoded = _per_doc_ms(dec, payloads)
        for src, back in zip(docs, decoded):
            same = back.shape == src.shape and (not lossless or np.array_equal(back, src))
            ctx.check(same, f"{name} round trip changed a document")
        metrics[f"codec.{name}.encode_ms_per_doc"] = enc_ms
        metrics[f"codec.{name}.decode_ms_per_doc"] = dec_ms
    return metrics
