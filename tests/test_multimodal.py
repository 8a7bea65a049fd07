"""The image primitive left in kgforge.multimodal."""

from __future__ import annotations

import numpy as np

from kgforge.multimodal import resize_nearest


def test_resize_nearest_known_grid():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = resize_nearest(img, 2, 2)
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]
    big = resize_nearest(img, 8, 8)
    assert big.shape == (8, 8, 1)
    assert big[0, 0, 0] == 0 and big[7, 7, 0] == 15
