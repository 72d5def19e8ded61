"""Runtime bootstrap for the ``transformWithStateInPandas`` tier.

PySpark 4.x's Python state-server protocol (`pyspark/sql/streaming/
stateful_processor_api_client.py`) needs ``google.protobuf`` at runtime.
This container does not ship the pip package, but the host's Google
Cloud SDK bundles a pure-Python protobuf distribution (public, BSD
licensed) under ``platform/google_appengine/google/protobuf``.

:func:`ensure_protobuf` makes ``google.protobuf`` importable from such a
host copy via an in-process namespace bridge:

* It never touches ``PYTHONPATH`` or inserts the host directory onto
  ``sys.path`` — and it does not extend ``google.__path__`` either
  (which would expose every stale bundled ``google.*`` sub-package,
  e.g. ``google.appengine``, to import resolution — ADVICE r3).
  Instead a dedicated loader registers **exactly one** module,
  ``google.protobuf``, from the host copy's ``__init__.py``, with
  submodule resolution confined to that package directory; nothing
  else in the ``google.*`` namespace can be shadowed.
* The bundled runtime can trail PySpark's protobuf *gencode* by a minor
  version (e.g. runtime 6.32 vs gencode 6.33). Protobuf's own documented
  escape hatch for exactly this situation is the
  ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` environment variable
  (`google/protobuf/runtime_version.py:72-74`), which we set before the
  first ``*_pb2`` import. The StateMessage protocol uses only plain
  proto3 messages, well inside the cross-minor compatibility envelope.
* It is idempotent and cheap on the happy path (one ``import`` probe),
  and safe to call in both the driver and Python workers. All of
  PySpark's ``StateMessage_pb2`` imports are lazy (inside methods), so
  running this at module-import time in ``timer_join`` — which every
  worker imports while unpickling the processor — is early enough even
  when the JVM was started by someone else's SparkSession.

On a real cluster you would simply ship ``protobuf`` in the image and
this module becomes a no-op.
"""

from __future__ import annotations

import os
import sys
import types

# Known public locations of a pure-Python protobuf distribution.
PROTOBUF_HOST_ROOTS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]


def _pb_real() -> bool:
    """True iff ``google.protobuf`` is a *real* package. A bare import
    probe is not enough: in Spark workers ``google`` (and even
    ``google.protobuf``) can resolve as an **empty namespace package**
    rooted inside ``spark-core_*.jar`` — the jar's Java
    ``google/protobuf`` class directory satisfies the import but holds
    no Python modules."""
    pb = sys.modules.get("google.protobuf")
    if pb is not None and getattr(pb, "__file__", None) is None:
        return False  # cached empty-namespace shadow
    try:
        # the probe itself: protobuf is optional and may be a shadow
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable; True if it (now) is."""
    import importlib.util  # only a host-root protobuf load needs it

    if _pb_real():
        return True
    for root in PROTOBUF_HOST_ROOTS:
        pbdir = os.path.join(root, "google", "protobuf")
        init = os.path.join(pbdir, "__init__.py")
        if not os.path.isfile(init):
            continue
        # Official bypass for a runtime trailing the gencode by a minor
        # version; must be in the env before the first *_pb2 import.
        # Process-wide by protobuf's design (runtime_version.py reads it
        # at import), but only ever set on the bridged-runtime path —
        # a process with a real pip protobuf never reaches this line.
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        g = sys.modules.get("google")
        if g is None:
            g = types.ModuleType("google")
            g.__path__ = []  # empty namespace parent; NOT the host dir
            sys.modules["google"] = g
        # Evict cached empty-namespace shadows (Spark workers can cache
        # `google.protobuf` as a namespace portion rooted in a jar).
        for name in [m for m in sys.modules
                     if m == "google.protobuf"
                     or m.startswith("google.protobuf.")]:
            if getattr(sys.modules[name], "__file__", None) is None:
                del sys.modules[name]
        # Dedicated loader: register google.protobuf and ONLY it; its
        # submodules resolve inside pbdir via search_locations, so no
        # sibling google.* package from the host SDK becomes importable.
        spec = importlib.util.spec_from_file_location(
            "google.protobuf", init, submodule_search_locations=[pbdir])
        mod = importlib.util.module_from_spec(spec)
        sys.modules["google.protobuf"] = mod
        try:
            spec.loader.exec_module(mod)
            g.protobuf = mod
        except Exception:
            sys.modules.pop("google.protobuf", None)
            continue
        if _pb_real():
            return True
    return False
