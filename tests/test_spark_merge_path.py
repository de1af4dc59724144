"""The merge-heavy modules again, with every ``LakeTable.merge`` forced
into the executor placement of its merge kernel (the ``merge_path``
fixture in conftest.py): as collected, those modules force every merge into
the driver placement, so together the two runs cover both placements with
the same assertions."""

from test_cdc_replay import *  # noqa: F401,F403
from test_changefeed import *  # noqa: F401,F403
from test_key_bloom import *  # noqa: F401,F403
from test_wap import *  # noqa: F401,F403
