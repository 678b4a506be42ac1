"""GIF codec (still and animated): numpy round-trips and refusals."""

import pytest


class TestGifAnimation:
    """Animated GIF: full GIF89a compositing semantics —
    offsets, transparency, disposal methods — pinned by lossless
    round-trips through the inter-frame optimizations real encoders use."""

    def _frames(self, n=5, h=20, w=24, seed=0):
        import numpy as np

        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, (12, 3), dtype=np.uint8)
        f0 = pal[rng.randint(0, 12, (h, w))]
        frames = [f0]
        for _ in range(1, n):
            f = frames[-1].copy()
            y, x = rng.randint(0, h - 5), rng.randint(0, w - 5)
            f[y : y + 5, x : x + 5] = pal[rng.randint(0, 12)]
            frames.append(f)
        return np.stack(frames)

    @pytest.mark.parametrize("mode", ["full", "patch", "patch_transparent"])
    def test_roundtrip_bit_exact(self, mode):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_anim_bytes, gif_frames

        frames = self._frames()
        out, fps = gif_frames(gif_anim_bytes(frames, fps=20, mode=mode))
        assert fps == 20 and out.shape == frames.shape
        assert (out == frames).all()

    def test_disposal_override_length_mismatch_refused(self):
        from geowave_spark.functions.gifcodec import gif_anim_bytes

        frames = self._frames(n=4)
        with pytest.raises(ValueError, match="disposal_override"):
            gif_anim_bytes(frames, disposal_override=[1, 1])

    def test_patch_mode_is_smaller(self):
        from geowave_spark.functions.gifcodec import gif_anim_bytes

        frames = self._frames()
        assert len(gif_anim_bytes(frames, mode="patch")) < len(
            gif_anim_bytes(frames, mode="full")
        )

    def test_disposal_restore_background_and_previous(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_anim_bytes, gif_frames

        frames = self._frames()
        # disposal 2 with full-size images: each presented frame is just the
        # image over a background-restored canvas -> still round-trips
        out, _ = gif_frames(
            gif_anim_bytes(frames, mode="full", disposal_override=[2] * len(frames))
        )
        assert (out == frames).all()
        # disposal 3: patches drawn over frame 0's canvas, reverted between
        rng = np.random.RandomState(1)
        pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
        f0 = pal[rng.randint(0, 8, (16, 16))]
        pframes = [f0]
        for i in range(1, 4):
            f = f0.copy()
            f[2:6, 3:8] = pal[i]
            pframes.append(f)
        pf = np.stack(pframes)
        out3, _ = gif_frames(
            gif_anim_bytes(pf, mode="patch", disposal_override=[1, 3, 3, 3])
        )
        assert (out3 == pf).all()

    def test_still_gif_is_a_one_frame_video(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_frames

        rng = np.random.RandomState(2)
        img = rng.randint(0, 256, (9, 7, 3)).astype(np.uint8)
        img = (img // 51) * 51
        out, fps = gif_frames(gif_bytes(img))
        assert out.shape == (1, 9, 7, 3) and (out[0] == img).all()


class TestGifCodec:
    """GIF87a/89a: variable-width LZW over palette indices — lossless for
    any <=256-color image, so round-trips are bit-exact."""

    def _palimg(self, shape, ncolors, seed=11):
        import numpy as np

        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, (ncolors, 3), dtype=np.uint8)
        return pal[rng.randint(0, ncolors, shape)]

    @pytest.mark.parametrize("interlace", [False, True])
    def test_roundtrip_bit_exact(self, interlace):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        rgb = self._palimg((37, 53), 200)
        assert (gif_decode(gif_bytes(rgb, interlace=interlace)) == rgb).all()

    def test_short_lzw_stream_refused_with_codec_error(self):
        # a stream whose END code lands before the image is filled must
        # raise the codec's own error, not numpy's reshape failure
        import numpy as np

        from geowave_spark.functions.gifcodec import _lzw_decode, _lzw_encode

        data = _lzw_encode(np.arange(10, dtype=np.uint8) % 4, 2)
        with pytest.raises(ValueError, match="ended after"):
            _lzw_decode(data, 2, 100)

    def test_dictionary_growth_and_reset(self):
        # 200x300 random 200-color noise forces width growth to 12 bits and
        # the 4096-entry dictionary reset
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        rgb = self._palimg((200, 300), 200, seed=3)
        assert (gif_decode(gif_bytes(rgb)) == rgb).all()

    def test_compresses_runs(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes

        grad = np.tile(np.arange(256, dtype=np.uint8).reshape(1, 256, 1), (64, 1, 3))
        assert len(gif_bytes(grad)) < grad.nbytes / 4  # LZW actually compresses

    def test_transparency_composites_to_background(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        img = np.zeros((4, 4, 3), np.uint8)
        img[1:3, 1:3] = [255, 0, 0]
        out = gif_decode(gif_bytes(img, transparent_color=(255, 0, 0)))
        assert (out == 0).all()  # red is transparent -> background (black)

    def test_two_color_minimum_code_size(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        rng = np.random.RandomState(5)
        bw = np.where(rng.rand(9, 7, 1) > 0.5, 255, 0).astype(np.uint8).repeat(3, 2)
        assert (gif_decode(gif_bytes(bw)) == bw).all()

    def test_palette_cap_and_bad_magic(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        img = np.zeros((20, 20, 3), np.uint8)
        img[..., 0] = (np.arange(400) % 256).reshape(20, 20)
        img[..., 1] = (np.arange(400) // 256).reshape(20, 20)
        with pytest.raises(ValueError, match="<=256 distinct colors"):
            gif_bytes(img)
        with pytest.raises(ValueError, match="not a GIF"):
            gif_decode(b"NOTAGIF")

    def test_truncated_stream_raises(self):
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        buf = gif_bytes(self._palimg((16, 16), 50))
        with pytest.raises(ValueError):
            gif_decode(buf[: len(buf) // 2])

    def test_offset_frame_composites_onto_screen(self):
        """A frame smaller than the logical screen must land at its
        descriptor offset on a background-filled canvas — the decoded dims
        are the file's nominal dims, matching what other tools report."""
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        rgb = self._palimg((4, 3), 5, seed=9)
        out = gif_decode(gif_bytes(rgb, screen=(10, 8), offset=(2, 3)))
        assert out.shape == (8, 10, 3)
        assert (out[3:7, 2:5] == rgb).all()
        bg = np.unique(rgb.reshape(-1, 3), axis=0)[0]  # palette slot 0
        mask = np.ones((8, 10), bool)
        mask[3:7, 2:5] = False
        assert (out[mask] == bg).all()
        with pytest.raises(ValueError, match="exceeds the logical screen"):
            gif_bytes(rgb, screen=(4, 4), offset=(2, 3))

    def test_truncation_raises_valueerror_not_indexerror(self):
        """Buffers cut mid-structure must keep the ValueError contract —
        no bare IndexError/struct.error from real-world corrupt files."""
        import numpy as np

        from geowave_spark.functions.gifcodec import gif_bytes, gif_decode

        img = np.zeros((4, 4, 3), np.uint8)
        img[0, 0] = 255
        buf = gif_bytes(img)
        n_pal = 2 << (buf[10] & 0x07)
        head = buf[: 13 + 3 * n_pal]
        with pytest.raises(ValueError, match="truncated GIF extension"):
            gif_decode(head + b"\x21")
        with pytest.raises(ValueError, match="truncated GIF image descriptor"):
            gif_decode(head + b"\x2c\x00\x01")
