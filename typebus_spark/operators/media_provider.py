"""Media codec provider registry — the DEPLOYMENT SEAM for the three
per-blob Python codec paths (decode, fused resize, perceptual hash).

The engine's only irreducible per-row Python is the media codec work
inside the one Arrow-batched media-map stage
(``operators.multimodal._map_blobs``; r10 verdict: the media queries
are the documented deployment swap). This registry makes
that swap a code seam instead of prose: the default provider is the
pure-stdlib PNG/WAV implementation (``operators.codecs``), and a
deployment with real codec libraries (Pillow/libvips/ffmpeg bindings,
or a JVM/native sidecar) registers its own provider and activates it —
``decode_media`` / ``resize_media`` / ``perceptual_hash_media`` resolve
the ACTIVE provider at plan-build time on the driver and ship its
(cloudpickled) callables to the executors, so no operator code changes.

Contract per callable (all pure, per-blob, exception = row-level
``*_error`` capture, never task-fatal):

- ``decode(blob, mime) -> {width, height, n_frames, features}``
- ``resize(blob, mime, max_w, max_h) -> {width, height, out_w, out_h,
  resized_sha}`` (sha over the RESIZED pixel bytes)
- ``phash(blob, mime) -> 16-hex-char string`` (64-bit perceptual hash;
  hex string — the signed-int64 trap, operators/codecs.average_hash)
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class MediaCodecProvider:
    name: str
    decode: Callable[[bytes, str], dict]
    resize: Callable[[bytes, str, int, int], dict]
    phash: Callable[[bytes, str], str]


_PROVIDERS: dict[str, MediaCodecProvider] = {}
_ACTIVE: dict[str, str] = {"name": "python"}


def register_provider(provider: MediaCodecProvider) -> None:
    _PROVIDERS[provider.name] = provider


def activate_provider(name: str) -> None:
    if name not in _PROVIDERS and name != "python":
        raise KeyError(
            f"unknown media codec provider {name!r}; registered: "
            f"{sorted(_PROVIDERS) + ['python']}"
        )
    _ACTIVE["name"] = name


def active_provider() -> MediaCodecProvider:
    name = _ACTIVE["name"]
    if name == "python" and name not in _PROVIDERS:
        _register_python_provider()
    return _PROVIDERS[name]


@contextmanager
def provider(name: str):
    """Temporarily activate a provider (tests; scoped benchmarks).

    NOT thread-safe: ``_ACTIVE`` is process-global mutable state
    resolved at plan-BUILD time, and the mux scaffold builds handler
    plans concurrently (ThreadPoolExecutor 8) — a flip inside this
    context manager can leak into plans built concurrently on other
    threads. Only single-threaded tests flip providers today; a
    deployment that needs per-plan providers should pass the provider
    explicitly to the decode/resize/phash call sites instead of using
    this ambient switch (r11 ADVICE)."""
    prev = _ACTIVE["name"]
    activate_provider(name)
    try:
        yield active_provider()
    finally:
        _ACTIVE["name"] = prev


def _register_python_provider() -> None:
    from typebus_spark.operators.codecs import (
        average_hash,
        real_decode,
        real_resize,
    )

    register_provider(
        MediaCodecProvider(
            name="python",
            decode=real_decode,
            resize=real_resize,
            phash=average_hash,
        )
    )
